package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions

/** PERSISTED IVF-PQ ANN index — the compressed-codes deployment shape
  * of [[Similarity.Pq.ivfTopK]] (the classic billion-vector layout:
  * FAISS `IndexIVFPQ`, Jégou et al. TPAMI 2011 + Johnson et al. 2017).
  * [[IvfIndex]] persists the raw vectors cell-partitioned; at 100 TB of
  * float32 embeddings that layout pays full vector bytes on every
  * probed cell's scan. This index persists PQ CODES of the coarse
  * RESIDUAL instead — `m` bytes/vector (m=8 vs 256 B for float32×64:
  * 32× less scan IO) — and keeps NO raw vectors at all: the corpus
  * table stays the single source of truth, and the probe's exact
  * rerank joins candidate ids back to it (bounded: rerank × queries
  * rows). That split is the deliberate scale design — the index is a
  * derived, compact, rebuildable artifact, never a second copy of the
  * data.
  *
  *  - LAYOUT: `<root>/_ixvN/{centroids, codebook, codes/cell=K/}` + a
  *    `_graft_ivfpq_meta.json` sidecar pinning (nlist, dims, m, ksub,
  *    seed, kernel, build_mse, segs_upto). Committed through the
  *    [[IndexVersions]] pointer (flip LAST, keep-last-2 retention) —
  *    probes never see a half-written generation. The probe
  *    SELF-CONFIGURES from the sidecar: there is no caller-supplied
  *    m/ksub/nlist to mismatch (the phash-index bands lesson), and a
  *    kernel or dims mismatch REFUSES instead of silently mis-scoring.
  *  - SCORING: dot(q,v) = dot(q,c) + dot(q,r) — the approximate score
  *    is the EXACT centroid dot plus the residual's ADC lookup-table
  *    sum ([[VectorFunctions.pqAdc]]: m table adds per corpus row, no
  *    float multiplies). Residual PQ quantizes a far tighter
  *    distribution than raw vectors, so the same code budget gives
  *    better recall. Cells are RANKED by exact squared-L2 on the
  *    normalized space through [[IvfIndex.negDist]] — the identical
  *    kernel the coarse build/arrival assignment uses, so build and
  *    probe can never rank cells inconsistently.
  *  - TRAINING: coarse centroids via [[IvfIndex.fitCentroids]]
  *    (bounded deterministic sample); the residual codebook via
  *    [[Similarity.Pq.train]] on a bounded hash-ordered sample of
  *    residuals. Both artifacts are a few KB, broadcast with the plan,
  *    and are read back with the writer's fixed schema (one job each,
  *    no schema-inference pass; the centroids as a local frame).
  *  - SEGMENTS (the ingest path): [[append]] folds an arrival batch in
  *    at O(batch) — assign under the FROZEN committed centroids,
  *    encode under the FROZEN committed codebook, write the codes as
  *    `segments/segN/cell=K/`, commit the [[SegmentLog]] manifest.
  *    [[compact]] is a PURE FOLD: base ∪ segments re-written as one
  *    cell-partitioned base generation with every code byte UNCHANGED,
  *    and the centroids/ and codebook/ files COPIED byte for byte into
  *    it (never decoded and re-encoded) — compaction here reclaims
  *    layout (file counts, manifest length), it does not retrain.
  *    Retraining is an explicit [[write]] REBUILD from the source
  *    corpus (the index stores no vectors to retrain from — by
  *    design), triggered when [[drift]]'s frozen-centroid error ratio
  *    says the distribution moved ([[appendObserved]] returns the same
  *    numbers, observed on the segment's codes write). Crash windows
  *    match [[IvfIndex]] exactly:
  *    orphan segment dirs are invisible, manifest rows ≤ `segs_upto`
  *    are ignored, the next mutation heals both.
  *
  * The `sim_topk_ivfpq_disk` gate probes with nprobe = nlist AND
  * rerank ≥ the verify corpus: every cell is scanned and the exact
  * rerank re-scores every candidate on ORIGINAL vectors, so neither
  * the coarse quantizer, the codebook, nor the persisted layout can
  * affect the output — the brute-force SQL is a true oracle (the
  * sim_topk_ivfpq argument) while the measured plan keeps the full
  * persisted cycle: versioned build, sidecar self-config, pruned
  * codes scan, ADC, bounded-heap rank, corpus rerank join. Production
  * nprobe < nlist / small-rerank behavior is pinned in IvfPqIndexSpec.
  *
  * Reference scope note: the reference ETL tool (SURVEY.md §2) has no
  * ANN surface; this extends the engine's LLM-pipeline family.
  */
object IvfPqIndex {

  private val MetaFile = "_graft_ivfpq_meta.json"
  private val Kernel = "ivfpq-l2n-residual-adc"

  /** `nvec − centroid` as float — the residual every code encodes. */
  private def residual(nvec: org.apache.spark.sql.Column,
      centroid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    zip_with(nvec, centroid, (a, b) => (a - b).cast("float"))

  /** Build and COMMIT the next index generation over `corpus`.
    *
    * One coarse fit (bounded sample), one assignment pass, one
    * residual-codebook fit (bounded sample), one encode pass, one
    * shuffle-by-cell, two bounded artifact writes. `nlist` ≤ 0 derives
    * the √n occupancy rule. `subsumedUpto` is internal plumbing for
    * rebuild-over-ingest parity with [[IvfIndex.write]]. Returns the
    * committed version.
    */
  def write(corpus: DataFrame, path: String, dims: Int, nlist: Int = 0,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      knownCount: Long = -1L, fitSamplePerCell: Int = 256,
      pqSampleN: Int = 20000, subsumedUpto: Long = -1L): Int = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dims > 0, s"dims: $dims")
    require(m > 0 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    require(ksub > 1 && ksub <= 256, s"ksub: $ksub")
    val dsub = dims / m
    val cells = IvfIndex.deriveNlist(corpus, idCol, nlist, knownCount)
    val c = corpus.select(col(idCol).as("id"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    val centroids = IvfIndex.fitCentroids(c, cells, seed, fitSamplePerCell)
    // assignment through the shared arrival kernel (assignWith wants a
    // `vec` column in its output contract; nvec doubles as it here —
    // only id/cell/nvec are consumed downstream)
    val assigned = IvfIndex
      .assignWith(c.withColumn("vec", col("nvec")), centroids)
      .select(col("id"), col("nvec"), col("cell"))
    val withRes = assigned.join(broadcast(centroids), Seq("cell"))
      .withColumn("res", residual(col("nvec"), col("centroid")))
    // NOT persisted (r17, the IvfIndex.write rationale): assignment +
    // residual are a narrow scan+map since the NearestCell kernel, so
    // the three consumers below (content-ordered codebook sample, codes
    // write, buildMse aggregate) recompute it cheaper than a corpus-
    // sized (nvec, res) cache materializes — and the deterministic
    // sample/kernel make every recomputation bit-identical.
    val cb = Similarity.Pq.train(withRes, dims, m, ksub, seed,
      sampleN = pqSampleN, vecCol = "res", preNormalized = true).toSeq

    val v = IndexVersions.nextVersion(spark, path)
    val dir = IndexVersions.versionDir(path, v)
    withRes.select(col("id"),
        VectorFunctions.pqEncode(col("res"), cb, m, ksub, dsub)
          .as("codes"),
        col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes")
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    Seq(Tuple1(cb)).toDF("codebook").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    // coarse quantization error — the drift baseline (the PQ codebook
    // rides along on the rebuild drift triggers)
    val buildMse = withRes
      .select(IvfIndex.sqDist(col("nvec"), col("centroid")).as("d2"))
      .agg(avg(col("d2"))).as[Double].head()
    val upto =
      if (subsumedUpto >= 0L) subsumedUpto
      else metaFull(spark, path).map(_.segsUpto).getOrElse(0L)
    writeMeta(spark, dir,
      Meta(cells, dims, m, ksub, seed, buildMse, upto))
    IndexVersions.commit(spark, path, v)
    IndexVersions.dropOldPathVersions(spark, path, keepPrevious = 1): Unit
    v
  }

  private[graft] case class Meta(nlist: Int, dims: Int, m: Int, ksub: Int,
    seed: Long, buildMse: Double, segsUpto: Long)

  private def writeMeta(spark: SparkSession, dir: String,
      m: Meta): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, MetaFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(
      (s"""{"nlist":${m.nlist},"dims":${m.dims},"m":${m.m},""" +
        s""""ksub":${m.ksub},"seed":${m.seed},"kernel":"$Kernel",""" +
        s""""build_mse":${m.buildMse},"segs_upto":${m.segsUpto}}""")
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Copy `from` byte for byte to `to`, replacing whatever a crashed
    * earlier attempt left there (the `mode("overwrite")` contract of
    * the writes beside it). */
  private def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val dstFs = dst.getFileSystem(conf)
    dstFs.delete(dst, true)
    require(org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src,
      dstFs, dst, false, conf), s"copy $src -> $dst failed")
  }

  /** Full sidecar of the COMMITTED generation — None when the resolved
    * generation has no IVF-PQ sidecar. Kernel mismatch refuses: same
    * layout shape, none of the semantics (the phash-index rule). */
  private[graft] def metaFull(spark: SparkSession,
      path: String): Option[Meta] = {
    val p = new org.apache.hadoop.fs.Path(
      IndexVersions.resolvePath(spark, path), MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val re = (""""nlist":(\d+),"dims":(\d+),"m":(\d+),"ksub":(\d+),""" +
        """"seed":(-?\d+),"kernel":"([^"]*)","build_mse":([-0-9.eE]+),""" +
        """"segs_upto":(\d+)""").r
      re.findFirstMatchIn(txt).map { g =>
        require(g.group(6) == Kernel,
          s"IVF-PQ index at $path was built with kernel `${g.group(6)}`; " +
            s"this probe computes `$Kernel` scores")
        Meta(g.group(1).toInt, g.group(2).toInt, g.group(3).toInt,
          g.group(4).toInt, g.group(5).toLong, g.group(7).toDouble,
          g.group(8).toLong)
      }
    }
  }

  /** (nlist, dims, m, ksub, build_mse) of the committed sidecar. */
  def meta(spark: SparkSession,
      path: String): Option[(Int, Int, Int, Int, Double)] =
    metaFull(spark, path).map(x => (x.nlist, x.dims, x.m, x.ksub, x.buildMse))

  private def requireMeta(spark: SparkSession, path: String,
      dims: Int): Meta = {
    val m = metaFull(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no $MetaFile under the committed generation of $path — " +
          "not an IVF-PQ index"))
    if (dims > 0) require(m.dims == dims,
      s"IVF-PQ index at $path was built with dims=${m.dims}; " +
        s"probe called with dims=$dims")
    m
  }

  /** The schema [[write]] gives `codebook/` (one row). */
  private val CodebookSchema =
    StructType(Seq(StructField("codebook", ArrayType(FloatType))))

  /** The committed generation's flat [m][ksub][dsub] codebook — one
    * bounded driver row, read with the writer's schema (one job, no
    * schema-inference pass). */
  private def readCodebook(spark: SparkSession, path: String): Seq[Float] =
    spark.read.schema(CodebookSchema)
      .parquet(s"${IndexVersions.resolvePath(spark, path)}/codebook")
      .head().getSeq[Float](0)

  private[graft] def liveSegs(spark: SparkSession,
      path: String): Seq[Long] = {
    val upto = metaFull(spark, path).map(_.segsUpto).getOrElse(0L)
    SegmentLog.committedSegs(spark, path).filter(_ > upto)
  }

  /** The probe/compaction read: base codes ∪ live segments. Every leg
    * is `cell=`-partitioned, so a probe's bounded IN prune pushes into
    * each leg's directory listing. */
  private[graft] def codesView(spark: SparkSession,
      path: String): DataFrame = {
    // the id type follows the indexed corpus, so the codes schema is
    // inferred — once, on the base; every segment leg reuses it
    val base = spark.read.parquet(
      s"${IndexVersions.resolvePath(spark, path)}/codes")
    val schema = base.schema
    liveSegs(spark, path).foldLeft(base) { (acc, n) =>
      acc.unionByName(
        spark.read.schema(schema).parquet(SegmentLog.segDir(path, n)))
    }
  }

  /** Fold an arrival batch into the index at O(batch): assign under
    * the FROZEN committed centroids, encode under the FROZEN committed
    * codebook (no retrain — [[drift]] is the retrain signal, [[write]]
    * the retrain), write the batch's codes as the next segment, commit
    * the [[SegmentLog]] manifest. Arrival ids must be new — probes do
    * not dedup. Returns the segment number, or -1 for an empty batch
    * (committed no-op).
    *
    * `atSeg` ≥ 0 pins the segment NUMBER instead of taking the next
    * free one — the streaming writer's exactly-once hook: a retried
    * micro-batch re-runs with the SAME number, so the retry overwrites
    * the same segment dir with byte-identical codes (frozen kernel ⇒
    * deterministic encode) and the manifest commit is a set-union —
    * idempotent end state, no transaction log. If a compaction folded
    * that number into the base between attempts (`atSeg` ≤ the
    * committed `segs_upto`), the rows are ALREADY probe-able from the
    * base: the append returns -2 without writing (a dead manifest row
    * would be ignored anyway, but not writing keeps heal trivial).
    * The caller owns the numbering: a pinned number must not collide
    * with a live segment another writer produced (the single-writer
    * contract every mutation here already assumes).
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 0, atSeg: Long = -1L): Long =
    appendObserved(spark, path, batch, idCol, vecCol, dims, atSeg)._1

  /** [[append]], also returning the batch's [[drift]] row
    * (n, build_mse, batch_mse, ratio) when a segment was written (None
    * for -1/-2). n and batch_mse are a `Dataset.observe` on the codes
    * write itself, placed after the `repartition(cell)` so it runs in
    * the write's result stage, where Spark applies each task's
    * accumulator update exactly once (the [[graft.functions.ManifestAgg]]
    * placement): a recomputed map stage cannot count a row twice, and
    * no second assignment pass runs. */
  private[graft] def appendObserved(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, dims: Int,
      atSeg: Long): (Long, Option[Row]) = {
    val meta = requireMeta(spark, path, dims)
    if (atSeg >= 0 && atSeg <= meta.segsUpto) return (-2L, None)
    val committed = SegmentLog.committedSegs(spark, path)
    val live = committed.filter(_ > meta.segsUpto)
    // a pinned retry's own dir must survive the heal only if committed;
    // an uncommitted prior attempt is reclaimed and rewritten below
    SegmentLog.heal(spark, path, live)
    if (live != committed) SegmentLog.commitManifest(spark, path, live)
    val b = batch.select(col(idCol).as("id"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    if (b.isEmpty) return (-1L, None)
    val centroids = IvfIndex.readCentroids(spark, path)
    val cb = readCodebook(spark, path)
    val dsub = meta.dims / meta.m
    val n = if (atSeg >= 0) atSeg else (committed :+ meta.segsUpto).max + 1
    val tally = org.apache.spark.sql.Observation()
    IvfIndex.assignWith(b.withColumn("vec", col("nvec")), centroids)
      .select(col("id"), col("nvec"), col("cell"))
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("res", residual(col("nvec"), col("centroid")))
      .select(col("id"),
        VectorFunctions.pqEncode(col("res"), cb, meta.m, meta.ksub, dsub)
          .as("codes"),
        col("cell"),
        IvfIndex.sqDist(col("nvec"), col("centroid")).as("d2"))
      .repartition(col("cell"))
      .observe(tally, count(lit(1)).as("n"), avg(col("d2")).as("batch_mse"))
      .drop("d2")
      .write.partitionBy("cell").mode("overwrite")
      .parquet(SegmentLog.segDir(path, n))
    SegmentLog.commitManifest(spark, path, (live.toSet + n).toSeq.sorted)
    val t = tally.get
    val rows = t("n").asInstanceOf[Long]
    val ratio = // the ratio rule of [[drift]]
      if (rows == 0L || meta.buildMse == 0.0) 0.0
      else t("batch_mse").asInstanceOf[Double] / meta.buildMse
    (n, Some(Row(rows, meta.buildMse, t("batch_mse"), ratio)))
  }

  /** PURE-FOLD compaction: re-write base ∪ live segments as one
    * cell-partitioned base generation — every code byte UNCHANGED, the
    * centroids/ and codebook/ files copied byte for byte (no Spark job),
    * and the new sidecar carries build_mse forward and bumps
    * `segs_upto` past every folded segment. Reclaims the
    * segment list and per-segment small files at O(index) IO; it does
    * NOT retrain — the index stores no vectors to retrain from, so a
    * quantizer refresh is an explicit [[write]] rebuild from the
    * source corpus. Commit order (new base flip → manifest prune →
    * heal) keeps every crash window exact, as in [[IvfIndex.compact]].
    * Returns the new base version. */
  def compact(spark: SparkSession, path: String, dims: Int = 0): Int = {
    val meta = requireMeta(spark, path, dims)
    val live = liveSegs(spark, path)
    val view = codesView(spark, path)
    val from = IndexVersions.resolvePath(spark, path)
    val upto = (live :+ meta.segsUpto).max
    val v = IndexVersions.nextVersion(spark, path)
    val dir = IndexVersions.versionDir(path, v)
    view.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes")
    copyDir(spark, s"$from/centroids", s"$dir/centroids")
    copyDir(spark, s"$from/codebook", s"$dir/codebook")
    writeMeta(spark, dir, meta.copy(segsUpto = upto))
    IndexVersions.commit(spark, path, v)
    IndexVersions.dropOldPathVersions(spark, path, keepPrevious = 1): Unit
    SegmentLog.commitManifest(spark, path, Seq.empty)
    SegmentLog.heal(spark, path, Seq.empty)
    v
  }

  /** ANN top-k over the committed generation: sidecar self-config →
    * nprobe cells per query (exact-L2 cell rank, [[IvfIndex]] kernel)
    * → pruned CODES scan (bounded literal IN ≤ min(cells, cap); at
    * scale this is partition pruning on `cell=K` directories, reading
    * `m` bytes/vector) → ADC = exact q·centroid + residual LUT adds →
    * top-`rerank` candidates per query by the bounded-heap aggregate →
    * exact cosine rerank joining candidate ids back to `rerankFrom`
    * (the source corpus — bounded: rerank × queries rows fetched).
    * Output shape = [[Similarity.bruteForceTopK]] (qid, id, cosine,
    * rank ≤ k). nprobe ≥ nlist AND rerank ≥ corpus is provably exact
    * (the gate configuration).
    */
  def probe(spark: SparkSession, path: String, queries: DataFrame,
      rerankFrom: DataFrame, k: Int, nprobe: Int = 8, rerank: Int = 100,
      dims: Int = 0, qidCol: String = "qid", idCol: String = "vec_id",
      vecCol: String = "embedding", maxCellLiterals: Int = 1024): DataFrame = {
    require(maxCellLiterals >= 0, s"maxCellLiterals: $maxCellLiterals")
    require(rerank >= k, s"rerank=$rerank < k=$k")
    val meta = requireMeta(spark, path, dims)
    val dsub = meta.dims / meta.m
    val cb = readCodebook(spark, path)
    val centroids = IvfIndex.readCentroids(spark, path)
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).as("qvec"),
      Embeddings.normalize(col(vecCol)).as("qn"))
    // narrow per-query cell ranking — the [[IvfIndex.probe]] kernel
    // (identical score/tie-break to the former crossJoin + heap rank)
    val (cflat, cn, cdims) = IvfIndex.centroidMatrix(centroids)
    val probeCells = q.select(col("qid"),
      explode(VectorFunctions.nearestCells(col("qn"), cflat, cn, cdims,
        math.min(nprobe, meta.nlist))).as("cell"))
    val cellLits =
      if (nprobe >= meta.nlist) (0 until meta.nlist).toArray
      else probeCells.select(col("cell")).distinct()
        .limit(maxCellLiterals + 1).collect().map(_.getInt(0))
    val raw = codesView(spark, path)
    val pruned =
      if (cellLits.length <= maxCellLiterals)
        raw.filter(col("cell").isin(cellLits.map(Int.box): _*))
      else raw
    val index = pruned.withColumn("cell", col("cell").cast("int"))
    // per-(query, probed cell): the exact centroid dot + the query's
    // shared residual LUT — a bounded frame (queries × nprobe rows)
    val qcells = probeCells
      .join(q.select(col("qid"), col("qn")), Seq("qid"))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("qid"), col("cell"),
        VectorFunctions.dotProduct(col("qn"), col("centroid")).as("qdotc"),
        VectorFunctions.pqLut(col("qn"), cb, meta.m, meta.ksub, dsub)
          .as("lut"))
    val approx = index.join(broadcast(qcells), Seq("cell"))
      .select(col("qid"), col("id"),
        (col("qdotc") +
          VectorFunctions.pqAdc(col("codes"), col("lut"), meta.ksub))
          .as("adc"))
      .filter(col("qid") =!= col("id"))
    val cands = Similarity.topKRank(approx, rerank, "adc")
      .select(col("qid"), col("id"))
    val cvecs = rerankFrom.select(col(idCol).as("id"), col(vecCol).as("cvec"))
    val scored = cands.join(cvecs, "id")
      .join(broadcast(q.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col("id"),
        VectorFunctions.cosineSim(col("cvec"), col("qvec")).as("cosine"))
    Similarity.topKRank(scored, k, "cosine")
  }

  /** Coarse-quantization drift of an arrival batch under the FROZEN
    * committed centroids vs the build-time baseline — one row
    * (n, build_mse, batch_mse, ratio); ratio ≫ 1 means retrain
    * (an explicit [[write]] rebuild from the source corpus). Same
    * contract as [[IvfIndex.drift]]. */
  def drift(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = 0): DataFrame = {
    val buildMse = requireMeta(spark, path, dims).buildMse
    val b = batch.select(col(idCol).as("id"),
      Embeddings.normalize(col(vecCol)).as("nvec"))
    val centroids = IvfIndex.readCentroids(spark, path)
    IvfIndex.assignWith(b.withColumn("vec", col("nvec")), centroids)
      .join(broadcast(centroids), Seq("cell"))
      .select(IvfIndex.sqDist(col("nvec"), col("centroid")).as("d2"))
      .agg(count(lit(1)).as("n"), avg(col("d2")).as("batch_mse"))
      .select(col("n"), lit(buildMse).as("build_mse"), col("batch_mse"),
        when(col("n") === 0L || lit(buildMse) === 0.0, lit(0.0))
          .otherwise(col("batch_mse") / lit(buildMse)).as("ratio"))
  }
}
