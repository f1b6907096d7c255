package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}
import graft.functions.VectorFunctions

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design:
  *  - Brute force is the correctness baseline: one map-only cosine pass +
  *    `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject —
  *    per-partition top-k heaps merged at the driver, NOT a global sort.
  *    Linear in corpus size, embarrassingly parallel, zero shuffle.
  *  - IVF is the scale path: corpus pre-partitioned into C centroid cells
  *    (one-time k-means-ish assignment, broadcast centroids); a query
  *    probes only the nprobe nearest cells ⇒ scan fraction ≈ nprobe/C.
  *    At 100 TB the cell assignment is a bucketed write, and queries touch
  *    only matching buckets (partition pruning on `cell`).
  */
object Similarity {

  /** Exact top-k by cosine against a literal query vector.
    *
    * `scale` is the decimal rounding applied ONCE to the raw cosine before
    * ordering — callers that need to match an external oracle's rounding
    * pass it here rather than re-rounding the output (round(round(x,6),4)
    * != round(x,4) near *.xxxx49999… boundaries).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      scale: Int = 6): DataFrame = {
    val qCol = array(query.map(lit).toIndexedSeq: _*)
    df.select(
        col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), scale).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Deterministic centroid seed: the `c` vectors with the smallest
    * ids (cheap, reproducible). Returns (cell_id, centroid) rows collected
    * to the driver — C is small (≤ thousands), this is broadcast state,
    * not data.
    */
  def centroids(df: DataFrame, idCol: String, vecCol: String, c: Int): Array[(Int, Array[Double])] =
    df.orderBy(col(idCol).asc)
      .limit(c)
      .select(vecCol)
      .collect()
      .zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Float](0).map(_.toDouble).toArray }

  /** Lloyd-refined centroids: seed with [[centroids]], then `iters`
    * distributed k-means steps — assign each vector to its nearest cell
    * (map-only, centroids broadcast as literals), recompute each cell's
    * mean via posexplode + groupBy(cell, dim) (one shuffle of N×dim
    * scalar rows per iteration), collect the C×dim means. Empty cells
    * keep their previous centroid. At 100 TB run this on a sample — the
    * quantizer needs distributional, not exhaustive, coverage.
    */
  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      c: Int,
      iters: Int = 3): Array[(Int, Array[Double])] = {
    var cents = centroids(df, idCol, vecCol, c)
    for (_ <- 0 until iters) {
      val means = ivfIndex(df, idCol, vecCol, cents)
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val dim = rows.length
          val v = new Array[Double](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          cell -> v
        }
      cents = cents.map { case (cell, prev) => cell -> means.getOrElse(cell, prev) }
    }
    cents
  }

  /** Cell assignment: argmin over centroid distances (squared L2),
    * evaluated as ONE native kernel call per vector with the centroid
    * matrix as a per-task constant (NearestCellsExpr). The previous
    * literal formulation built a C-wide expression tree
    * (array(l2Sq…) → array_min → array_position) whose size AND
    * per-row ArrayData overhead grew with the corpus when C tracks n —
    * at the sf10 rehearsal (C = 1562, n = 200k) one assignment pass
    * evaluated 312M literal-array l2Sq subtrees. The kernel scans the
    * dense matrix in primitive loops, same accumulation order, same
    * first-match tie rule (lowest cell) — value parity spec-pinned.
    */
  private def cellOf(vec: Column, cents: Array[(Int, Array[Double])]): Column =
    element_at(probeCellsCol(vec, cents, 1), 1)

  private def centMatrix(cents: Array[(Int, Array[Double])]): Array[Double] = {
    val ordered = cents.sortBy(_._1)
    require(ordered.map(_._1).sameElements(ordered.indices), "cell ids must be 0..C-1")
    ordered.flatMap(_._2)
  }


  /** IVF index build: assign every vector to its nearest centroid cell.
    * At scale, persist with `.write.partitionBy("cell")` so probes prune
    * partitions.
    */
  def ivfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame =
    Fence(df.withColumn("cell", cellOf(col(vecCol), cents)), "Similarity.ivfIndex")

  /** Persist an IVF index partitioned by cell: the on-disk layout that
    * makes probes PLANNING-TIME partition prunes — a query touches only
    * its nprobe cell directories, the rest of the corpus is never read
    * (asserted via PartitionFilters in the spec).
    */
  def writeIvfIndex(indexed: DataFrame, path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Query a persisted IVF index: same semantics as [[ivfTopK]], reading
    * only the probed cells' files.
    */
  def readIvfTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      query: Array[Float],
      k: Int,
      nprobe: Int = 4,
      scale: Int = 6): DataFrame =
    ivfTopK(spark.read.parquet(path), idCol, vecCol, cents, query, k, nprobe, scale)

  /** Drift report from [[appendIvfIndex]]: the signal for when the
    * frozen quantizer has degraded enough that the index should be
    * rebuilt with fresh centroids.
    *
    * `maxRelativeShift` is, over cells that received ≥ `minCell` new
    * vectors, the largest L2 displacement of the BATCH's cell mean from
    * the frozen centroid, normalized by that centroid's distance to its
    * nearest neighboring centroid. A batch drawn from the indexed
    * distribution keeps it near 0 (sampling noise); ≥ 0.5 means new
    * vectors in that cell center closer to the Voronoi boundary than to
    * their assigned centroid — assignments are going unstable, retrain.
    */
  final case class IvfDrift(
      nAppended: Long,
      meanQuantErr: Double,
      maxRelativeShift: Double,
      retrain: Boolean)

  /** Append a batch to a persisted cell-partitioned IVF index WITHOUT
    * rewriting it: the batch is assigned against the EXISTING (frozen)
    * centroids and written in append mode, so only the touched cell
    * directories gain files — O(batch) work, the historical corpus is
    * never read or rewritten, and planning-time cell pruning keeps
    * working because the partition layout is unchanged. With the same
    * quantizer, append-then-read is row-identical to a full rebuild
    * over the union (pinned in SimilaritySpec).
    *
    * The price of freezing the quantizer is drift: the returned
    * [[IvfDrift]] measures it from the batch alone (one aggregate over
    * the batch — no corpus scan) so a daily-append pipeline can gate a
    * rebuild on `retrain` instead of rebuilding on a timer.
    */
  def appendIvfIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      path: String,
      minCell: Long = 8L,
      shiftThreshold: Double = 0.5): IvfDrift = {
    val indexed = ivfIndex(batch, idCol, vecCol, cents)
    indexed.write.mode("append").partitionBy("cell").parquet(path)

    val byCent = cents.toMap
    val dim = cents.head._2.length
    // one pass: per-cell count, mean vector (via per-dim sums), and
    // summed quantization error against the assigned centroid
    val centCol = map(cents.sortBy(_._1).flatMap { case (cell, v) =>
      Seq(lit(cell), array(v.map(lit).toIndexedSeq: _*))
    }.toIndexedSeq: _*)
    val stats = indexed
      .select(col("cell"),
        VectorFunctions.l2Sq(col(vecCol), element_at(centCol, col("cell"))).as("qerr"),
        col(vecCol).as("v"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("qerr")).as("qe"),
        array((0 until dim).map(i => avg(element_at(col("v"), i + 1))): _*).as("mean"))
      .collect()

    val nAppended = stats.map(_.getLong(1)).sum
    val meanQuantErr =
      if (nAppended == 0) 0.0 else stats.map(_.getDouble(2)).sum / nAppended
    // nearest-neighbor distance per centroid: driver-side, C is small
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // C=1 has no Voronoi boundary to destabilize — shift normalizes to 0
    val nnDist = cents.map { case (cell, v) =>
      val others = cents.collect { case (c2, v2) if c2 != cell => l2(v, v2) }
      cell -> (if (others.isEmpty) Double.PositiveInfinity else others.min)
    }.toMap
    val maxShift = stats.iterator
      .filter(_.getLong(1) >= minCell)
      .map { r =>
        val cell = r.getInt(0)
        val mean = r.getSeq[Double](3).toArray
        l2(mean, byCent(cell)) / math.max(nnDist(cell), 1e-12)
      }
      .foldLeft(0.0)(math.max)
    IvfDrift(nAppended, meanQuantErr, maxShift, maxShift >= shiftThreshold)
  }

  /** IVF query: score only vectors in the `nprobe` cells nearest to the
    * query ⇒ scans ~nprobe/C of the corpus. Exact cosine within probed
    * cells. With `nprobe = C` (all cells probed) the result is EXACT by
    * construction — equal to [[bruteForceTopK]] — while still exercising
    * the full IVF machinery; that degenerate setting is how the declared
    * q91 attaches an exact oracle without weakening the approximate
    * defaults.
    */
  def ivfTopK(
      indexed: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      query: Array[Float],
      k: Int,
      nprobe: Int = 4,
      scale: Int = 6): DataFrame = {
    val probeCells = cents
      .map { case (cid, cvec) =>
        val d = cvec.zip(query).map { case (x, y) => (x - y) * (x - y) }.sum
        (cid, d)
      }
      .sortBy(_._2)
      .take(nprobe)
      .map(_._1)
    val qCol = array(query.map(lit).toIndexedSeq: _*)
    indexed
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .select(
        col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), scale).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-row probe-cell list: the `nprobe` centroid cells nearest to the
    * row's vector, as an array column — ONE native kernel call over the
    * broadcast-constant centroid matrix (see [[cellOf]]), ordered by
    * (distance, cell) with ties to the lowest cell. Index 0 is the
    * OWNER cell, identical to [[cellOf]]'s first-match argmin — also
    * the multiprobe blocking for [[Dedup.semanticNearDupPairs]].
    */
  private[operators] def probeCellsCol(
      vec: Column,
      cents: Array[(Int, Array[Double])],
      nprobe: Int): Column =
    org.apache.spark.sql.graft.NativeExprs.nearestCells(
      vec, centMatrix(cents), cents.length, nprobe)

  /** Batch k-NN JOIN: for EVERY query row, the k nearest corpus rows by
    * cosine — the all-queries generalization of [[ivfTopK]] (which
    * serves one literal query vector per job; a training pipeline
    * labeling millions of examples needs the join form).
    *
    * Shape: corpus is cell-assigned once (map-only, centroids broadcast
    * as literals); each query explodes to its `nprobe` nearest cells;
    * one equi-join on `cell` pairs each query with only ~nprobe/C of the
    * corpus; a per-query window keeps the top k. Corpus vectors must
    * ride the cell join (the cosine needs them) — at 100 TB persist the
    * corpus with `writeIvfIndex` so the join reads only probed cell
    * partitions, and size C so |cell| fits an executor.
    *
    * With `nprobe = C` the result is exact for every query (the q93
    * oracle parameterization). Output: (queryId, corpusId, cos, rank)
    * with rank 1..k by rounded cosine desc, corpusId asc.
    *
    * The per-query top-k is a bounded [[graft.functions.TopKByScore]]
    * AGGREGATE, not a window: partial aggregation collapses candidates
    * to ≤ k per query per map task BEFORE the qid shuffle, where a
    * `row_number().over(Window)` ships and buffers every candidate at
    * the reducer — the difference between shuffling k×tasks rows and
    * shuffling the whole candidate set at 100 TB. A window twin
    * ([[knnJoinWindowed]]) is kept as the semantic spec; both are
    * pinned equal in SimilaritySpec.
    */
  def knnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      queryId: String,
      vecCol: String,
      k: Int,
      cents: Array[(Int, Array[Double])],
      nprobe: Int = 4,
      scale: Int = 6): DataFrame = {
    require(queryId != corpusId,
      s"queryId and corpusId must differ (alias one side), both are '$queryId'")
    scoredCandidates(corpus, queries, corpusId, queryId, vecCol, cents, nprobe, scale)
      .groupBy(queryId)
      .agg(graft.functions.TopKByScore.topK(col(corpusId), col("cos"), k).as("__top"))
      .select(col(queryId), posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(
        col(queryId),
        col("__s.id").as(corpusId),
        col("__s.score").as("cos"),
        (col("__pos") + 1).cast("bigint").as("rank"))
  }

  /** Window-ranked formulation of [[knnJoin]] — kept as the semantic
    * reference (row_number over the full candidate set); prefer
    * [[knnJoin]] at scale.
    */
  def knnJoinWindowed(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      queryId: String,
      vecCol: String,
      k: Int,
      cents: Array[(Int, Array[Double])],
      nprobe: Int = 4,
      scale: Int = 6): DataFrame = {
    require(queryId != corpusId,
      s"queryId and corpusId must differ (alias one side), both are '$queryId'")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryId)
      .orderBy(col("cos").desc, col(corpusId).asc)
    scoredCandidates(corpus, queries, corpusId, queryId, vecCol, cents, nprobe, scale)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col(queryId), col(corpusId), col("cos"), col("rank"))
  }

  /** Shared candidate stage of the knn joins: corpus cell assignment,
    * query multi-cell probing, cell equi-join, rounded cosine.
    */
  private def scoredCandidates(
      corpus: DataFrame,
      queries: DataFrame,
      corpusId: String,
      queryId: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])],
      nprobe: Int,
      scale: Int): DataFrame = {
    val indexedCorpus = ivfIndex(corpus, corpusId, vecCol, cents)
      .select(col(corpusId), col(vecCol).as("__cv"), col("cell"))
    val probed = queries
      .select(col(queryId), col(vecCol).as("__qv"))
      .withColumn("cell", explode(probeCellsCol(col("__qv"), cents, nprobe)))
    probed
      .join(indexedCorpus, Seq("cell"))
      .withColumn("cos", round(VectorFunctions.cosine(col("__qv"), col("__cv")), scale))
      .select(col(queryId), col(corpusId), col("cos"))
  }

  // ------------------------------------------------ product quantization

  /** Train per-subspace PQ codebooks: the vector is split into `m`
    * contiguous subspaces of dim/m dims; each subspace gets its own
    * `ksub`-centroid quantizer (Lloyd-refined via [[kmeansCentroids]] on
    * the sliced column). Returns codebooks(s)(j) = centroid j of
    * subspace s.
    *
    * At 100 TB: train on a sample (the quantizer needs distributional
    * coverage, not every row) — m × iters small k-means jobs, driver
    * state m × ksub × dim/m doubles = one full-dim codebook, broadcast
    * everywhere it's used.
    */
  def pqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      iters: Int = 3): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = df.select(col(idCol), slice(col(vecCol), s * dsub + 1, dsub).as("__sub"))
      kmeansCentroids(sub, idCol, "__sub", ksub, iters).sortBy(_._1).map(_._2)
    }.toArray
  }

  /** Encode vectors to PQ codes: per subspace, the index of the nearest
    * codebook centroid (same once-computed array_position argmin as
    * [[cellOf]], ties to the lowest index). Adds `codes` (array<int>,
    * one entry per subspace).
    *
    * THIS is the 100 TB memory story: m codes (m bytes at ksub ≤ 256)
    * replace dim × 4 bytes per vector — 64-dim float32 = 256 B → 8 B at
    * m = 8, a 32× compression of the scan set; the full-precision
    * vectors stay in cold storage for optional re-ranking. Map-only.
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val dsub = codebooks(0)(0).length
    val codes = array(codebooks.zipWithIndex.map { case (cb, s) =>
      val sub = slice(col(vecCol), s * dsub + 1, dsub)
      val dists = array(cb.map(c =>
        VectorFunctions.l2Sq(sub, array(c.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }.toIndexedSeq: _*)
    df.withColumn("codes", codes)
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the
    * query's per-subspace distances to every codebook centroid are
    * precomputed into an m × ksub lookup table ON THE DRIVER (bounded
    * parameter state, like the IVF centroids) and inlined as a literal;
    * each corpus row's approximate squared-L2 distance is then m table
    * lookups — no float vector is read at query time, only the codes.
    * Map-only scan + TakeOrderedAndProject, like [[bruteForceTopK]] but
    * over 8-byte codes instead of 256-byte vectors.
    *
    * Approximate by construction (distances are to centroids, not the
    * original vectors) — recall and the exact-on-quantized-corpus
    * property are pinned in SimilaritySpec; compose with [[ivfIndex]]
    * cells to also cut the scanned fraction.
    */
  def pqTopK(
      encoded: DataFrame,
      idCol: String,
      query: Array[Float],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      codesCol: String = "codes",
      scale: Int = 6): DataFrame = {
    val dsub = codebooks(0)(0).length
    val lut: Array[Array[Double]] = codebooks.zipWithIndex.map { case (cb, s) =>
      val qs = query.slice(s * dsub, (s + 1) * dsub).map(_.toDouble)
      cb.map(c => c.zip(qs).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    val lutCol = array(lut.map(row =>
      array(row.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val dist = aggregate(
      sequence(lit(0), lit(codebooks.length - 1)),
      lit(0.0),
      (acc, s) => acc +
        element_at(element_at(lutCol, s + 1), element_at(col(codesCol), s + 1) + 1))
    encoded
      .select(col(idCol), round(dist, scale).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** PQ with exact re-ranking: ADC selects a `window`-sized candidate
    * set from codes alone (cheap, compressed scan), then the candidates'
    * FULL vectors are fetched by id and re-scored with exact squared L2
    * — the standard two-stage serving shape (compressed recall stage,
    * exact precision stage). Output ordering is exact over the captured
    * candidates; recall is the ADC window's (dial `window` up for more).
    * The full-vector join touches only `window` rows — at 100 TB that is
    * the point: the 4-byte/dim corpus is read for a few dozen ids, not
    * scanned.
    */
  def pqTopKRerank(
      encoded: DataFrame,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      window: Int = 50,
      codesCol: String = "codes",
      scale: Int = 6): DataFrame = {
    require(window >= k, s"window=$window must be >= k=$k")
    val candidates = pqTopK(encoded, idCol, query, codebooks, window, codesCol, scale)
      .select(idCol)
    val qCol = array(query.map(lit).toIndexedSeq: _*)
    encoded
      .join(candidates, Seq(idCol), "left_semi")
      .select(
        col(idCol),
        round(VectorFunctions.l2Sq(col(vecCol), qCol), scale).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)
  }

  /** IVF-PQ: the canonical billion-vector index — IVF cells cut the
    * SCANNED FRACTION (~nprobe/C of rows), PQ codes cut the BYTES PER
    * ROW (m bytes instead of dim×4) — compounding to a scan of
    * ~(nprobe/C)·(m/4dim) of the raw corpus. Encode once with
    * [[ivfIndex]] + [[pqEncode]] (persist `partitionBy("cell")` so
    * probes prune partitions), then serve queries from codes alone.
    *
    * Same recall characteristics as its parts: cell probing misses
    * across-boundary neighbors (dial `nprobe`), ADC ranks by
    * centroid distance (widen `k` and re-rank from full vectors when
    * exactness matters).
    */
  def ivfPqTopK(
      encoded: DataFrame,
      idCol: String,
      query: Array[Float],
      cents: Array[(Int, Array[Double])],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 4,
      codesCol: String = "codes",
      scale: Int = 6): DataFrame = {
    val probeCells = cents
      .map { case (cid, cvec) =>
        (cid, cvec.zip(query).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      .sortBy(_._2)
      .take(nprobe)
      .map(_._1)
    pqTopK(encoded.filter(col("cell").isin(probeCells.toIndexedSeq: _*)),
      idCol, query, codebooks, k, codesCol, scale)
  }

  /** Plane count sized to the corpus: 2^nPlanes buckets must grow with N
    * or candidate pairs explode quadratically (measured in SCALE.md:
    * 100k vectors at 8 planes = 35 s, at 16 planes = 2.3 s). Returns
    * ceil(log₂(n / targetBucket)) clamped to [4, 30].
    */
  def nPlanesFor(n: Long, targetBucket: Int = 256): Int = {
    require(n > 0 && targetBucket > 0)
    val raw = math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(30, math.max(4, raw))
  }

  /** All signatures within hamming distance ≤ radius of `sig` over
    * `nPlanes` bits (multi-probe bucket set). Count is Σ C(nPlanes, d) for
    * d ≤ radius — small for the radii that make sense (≤ 3).
    */
  private[operators] def probesWithin(sig: Long, nPlanes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= nPlanes, s"radius=$radius out of [0, $nPlanes]")
    def masks(bits: List[Int], d: Int): Seq[Long] =
      if (d == 0) Seq(0L)
      else bits match {
        case Nil => Seq.empty
        case b :: rest => masks(rest, d) ++ masks(rest, d - 1).map(_ | (1L << b))
      }
    (0 to radius).flatMap(d => masks((0 until nPlanes).toList, d).map(sig ^ _)).distinct
  }

  /** LSH-bucketed ANN: hyperplane signature buckets; query scans only
    * buckets within `probeRadius` bit-flips of its own signature
    * (radius 0 = its bucket only; radius 1 = the classic 1-bit
    * multi-probe; radius = nPlanes degenerates to a full scan). Probed
    * fraction ≈ Σ_{d≤r} C(nPlanes,d) / 2^nPlanes — radius is the
    * recall/scan-fraction dial, planes are seeded so the bucket
    * assignment (and hence the result) is deterministic per corpus.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      query: Array[Float],
      k: Int,
      nPlanes: Int = 6,
      probeRadius: Int = 1,
      seed: Long = 42L,
      scale: Int = 6): DataFrame = {
    val planes = VectorFunctions.randomPlanes(dim, nPlanes, seed)
    val qSig = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (x, y) => x * y }.sum
      if (d >= 0) 1L << i else 0L
    }.sum
    val probes = probesWithin(qSig, nPlanes, probeRadius)
    val qCol = array(query.map(lit).toIndexedSeq: _*)
    df.withColumn("sig", VectorFunctions.hyperplaneSignature(col(vecCol), planes))
      .filter(col("sig").isin(probes: _*))
      .select(
        col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), scale).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Centroid-based cluster quality (pseudo-silhouette): per vector,
    * a = L2 distance to its OWN centroid, b = L2 distance to the nearest
    * OTHER centroid, s = (b − a) / max(a, b) (0 when both are 0 — the
    * vector IS both centroids). One row per cell: (cell, n, mean_a,
    * mean_b, mean_sil). mean_sil near 0 flags cells sitting on their
    * Voronoi boundary — the retrain/split signal, complementing
    * [[appendIvfIndex]]'s drift report (which watches batch means; this
    * watches the resident population). The true silhouette needs all
    * pairwise distances (O(N²)); the centroid form is the standard
    * scale substitute: map-only + one groupBy, no shuffle wider than
    * (cell, three decimals).
    *
    * Determinism: distances are double index-order folds; per-vector
    * values round to 6 dp into DECIMAL(18,6), sums are exact, the final
    * mean divides the double-cast sum by n and rounds to 4 dp (the
    * q153 discipline) — so the whole frame carries a DuckDB oracle
    * (q169). Tie-break between equidistant cells is (distance, cell) —
    * identical to [[cellOf]]/[[probeCellsCol]].
    *
    * Plan note: the sorted distance-struct array appears once per
    * extracted field (Catalyst collapses the projection) — ~4C distance
    * subtrees. Fine at quantizer sizes (C ≤ thousands); it rides the
    * same broadcast-as-literals pattern as every centroid op here.
    */
  def clusterQuality(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    require(cents.length >= 2, "cluster quality needs at least 2 cells")
    import org.apache.spark.sql.types.DecimalType
    val entries = cents.sortBy(_._1).map { case (cid, cvec) =>
      struct(
        VectorFunctions.l2Sq(col(vecCol), array(cvec.map(lit).toIndexedSeq: _*)).as("d"),
        lit(cid).as("cell"))
    }
    val top2 = slice(sort_array(array(entries.toIndexedSeq: _*)), 1, 2)
    val a = sqrt(element_at(top2, 1).getField("d"))
    val b = sqrt(element_at(top2, 2).getField("d"))
    val s = when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0))
    df.select(
        element_at(top2, 1).getField("cell").as("cell"),
        round(a, 6).cast(DecimalType(18, 6)).as("__a"),
        round(b, 6).cast(DecimalType(18, 6)).as("__b"),
        round(s, 6).cast(DecimalType(18, 6)).as("__s"))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n"),
        round((sum("__a").cast("double") / count(lit(1))), 4).as("mean_a"),
        round((sum("__b").cast("double") / count(lit(1))), 4).as("mean_b"),
        round((sum("__s").cast("double") / count(lit(1))), 4).as("mean_sil"))
  }

  // ------------------------------------------------ hybrid retrieval (RRF)

  /** Reciprocal-rank fusion (Cormack, Clarke, Buettcher, SIGIR 2009) over
    * N ranked lists — the standard way to combine lexical (BM25) and
    * semantic (ANN) retrieval without score calibration.
    *
    * Each input is an already-retrieved `(id, score)` frame: the BOUNDED
    * top-k pool of a retriever, not a corpus-sized frame. Ranks are
    * assigned by (score desc, id asc) within each list; a document's
    * fused score is Σ 1/(kRrf + rank) over the lists containing it.
    * A row with a NULL score is dropped from its list before ranking:
    * it has no place in the order (in the rank join it matches no peer,
    * so it would otherwise take rank 1).
    * Contributions are rounded at 6dp and summed as exact DECIMAL(18,6)
    * (the q145/q153 discipline) so the fusion replays bit-identically in
    * any engine — q174 carries a full DuckDB oracle.
    *
    * Each id may appear once per pool. The rank join also pairs every
    * row with the pool rows of its own id, and an id that meets more
    * than itself fails the query (raise_error inside the plan, no extra
    * job) rather than fold two rows into one inflated rank.
    *
    * Scale note: a rank is 1 + the number of pool rows strictly ahead
    * under (score desc, id asc), which is a row number since ids are
    * unique within a pool. It is computed as a broadcast inequality
    * self-join of the pool plus an id-keyed count. No single-partition
    * window appears, so no step moves a pool to one task; the join
    * makes at most poolK² pairs, partitioned across the cluster. Every
    * input is a retriever's pool (≤ poolK rows), never data-sized: the
    * corpus scans and ANN probes already happened in the retrievers.
    * Each pool is a lazy `localCheckpoint` that both sides of the
    * self-join read, so each retriever runs once; its jobs run when
    * rrfFuse is called.
    */
  def rrfFuse(
      rankings: Seq[(DataFrame, String)],
      idCol: String,
      kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.types.DecimalType
    val contribs = rankings.map { case (df, scoreCol) =>
      // rank = 1 + |rows strictly ahead| (see the scale note)
      val pool = Barrier(df.select(col(idCol), col(scoreCol).as("__s")).filter(col("__s").isNotNull),
        "Similarity.rrfFuse.pool")
      val peers = pool.select(col(idCol).as("__pid"), col("__s").as("__ps"))
      val self = col("__pid") <=> col(idCol)
      pool
        .join(broadcast(peers),
          self || col("__ps") > col("__s") ||
            (col("__ps") === col("__s") && col("__pid") < col(idCol)))
        .groupBy(col(idCol))
        .agg(
          (count(when(!self, 1)) + lit(1L)).as("rank"),
          count(when(self, 1)).as("__rows"))
        .select(
          col(idCol),
          when(col("__rows") === 1,
            round(lit(1.0) / (lit(kRrf.toDouble) + col("rank")), 6).cast(DecimalType(18, 6)))
            .otherwise(raise_error(concat(lit(s"rrfFuse: $idCol "), col(idCol).cast("string"),
              lit(s" appears more than once in the '$scoreCol' pool")))).as("c6"))
    }.reduce(_ union _)
    contribs
      .groupBy(idCol)
      .agg(
        sum("c6").cast("double").as("score"),
        count(lit(1)).as("n_lists"))
      .orderBy(desc("score"), col(idCol))
      .limit(topK)
  }

  /** Hybrid lexical+semantic retrieval: BM25 and exact-cosine top-poolK
    * pools fused by [[rrfFuse]]. The semantic pool can be swapped for
    * [[ivfTopK]]'s output on the ANN scale path (at nprobe=C the fusion
    * is identical — pinned in SimilaritySpec).
    */
  def hybridTopK(
      docs: DataFrame,
      vecs: DataFrame,
      queryTerms: Seq[String],
      queryVec: Array[Float],
      idCol: String = "doc_id",
      textCol: String = "text",
      vecIdCol: String = "vec_id",
      vecCol: String = "embedding",
      kRrf: Int = 60,
      poolK: Int = 50,
      topK: Int = 10): DataFrame = {
    val lex = TextAnalysis.bm25(docs, queryTerms, idCol, textCol, topK = poolK)
    val sem = bruteForceTopK(vecs, vecIdCol, vecCol, queryVec, poolK)
      .withColumnRenamed(vecIdCol, idCol)
    rrfFuse(Seq((lex, "score"), (sem, "cos")), idCol, kRrf, topK)
  }
}
