package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {

  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine matches hand-computed value") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 0f), Array(2.0f, 3.0f, 0f))).toDF("a", "b")
    val c = df.select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0)
    val expected = (1 * 2 + 2 * 3) / (math.sqrt(5) * math.sqrt(13))
    assert(math.abs(c - expected) < 1e-12)
  }

  test("cosine of zero vector is 0, not NaN") {
    import spark.implicits._
    val df = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine(col("a"), col("b"))).head.getDouble(0) == 0.0)
  }

  test("normalize produces unit vectors") {
    import spark.implicits._
    val df = Seq(Tuple1(Array(3f, 4f))).toDF("v")
    val n = df.select(VectorFunctions.l2Norm(VectorFunctions.normalize(col("v")))).head.getDouble(0)
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("brute-force top-k is ordered desc and excludes nothing wrongly") {
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 1), "vec_id", "embedding", q, 10)
      .collect()
    assert(top.length == 10)
    val cosines = top.map(_.getDouble(1))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("nearest-cells kernel == literal array_min/struct-sort formulation (value parity)") {
    // pins the round-8 assignment rework: the one-kernel-per-vector
    // NearestCellsExpr must choose bit-identical cells AND probe
    // orders to the literal expression trees it replaced, including
    // exact-tie vectors (equidistant centroids resolve to the lowest
    // cell in both formulations)
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 16)
    import spark.implicits._
    val tie = Seq(
      (900001L, Array.fill(64)(0f)),                    // equidistant-ish
      (900002L, cents(3)._2.map(_.toFloat)),            // exactly on a centroid
      (900003L, cents(3)._2.zip(cents(7)._2).map { case (a, b) => ((a + b) / 2).toFloat })
    ).toDF("vec_id", "embedding")
    val probe = emb.select("vec_id", "embedding").unionByName(tie)
    val litEntries = cents.sortBy(_._1).map { case (cid, cvec) =>
      struct(
        VectorFunctions.l2Sq(col("embedding"), array(cvec.map(lit).toIndexedSeq: _*)).as("d"),
        lit(cid).as("cell"))
    }
    val litProbe = transform(
      slice(sort_array(array(litEntries.toIndexedSeq: _*)), 1, 4),
      e => e.getField("cell"))
    val cmp = probe.select(
        col("vec_id"),
        Similarity.probeCellsCol(col("embedding"), cents, 4).as("kern"),
        litProbe.as("lit"))
      .filter(not(col("kern") === col("lit")))
    assert(cmp.count() == 0, s"kernel/literal divergence: ${cmp.take(3).mkString}")
  }

  test("IVF top-k recall >= 0.5 vs brute force at nprobe=4/16") {
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 1)
    val truth = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 16)
    val got = Similarity.ivfTopK(
      Similarity.ivfIndex(rest, "vec_id", "embedding", cents),
      "vec_id", "embedding", cents, q, 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.5, s"IVF recall $recall")
  }

  test("Lloyd-refined centroids keep IVF recall >= seed centroids") {
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 1)
    val truth = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    def recallWith(cents: Array[(Int, Array[Double])]): Double = {
      val got = Similarity.ivfTopK(
        Similarity.ivfIndex(rest, "vec_id", "embedding", cents),
        "vec_id", "embedding", cents, q, 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      truth.intersect(got).size.toDouble / truth.size
    }
    val seed = recallWith(Similarity.centroids(emb, "vec_id", "embedding", 16))
    val lloyd = recallWith(Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, iters = 2))
    assert(lloyd >= seed - 0.101, s"Lloyd recall $lloyd regressed vs seed $seed")
    assert(lloyd >= 0.5, s"Lloyd recall $lloyd")
  }

  test("persisted IVF index prunes partitions and matches in-memory results") {
    val dir = scratchDir("ivf_idx").toString
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 16)
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 1)
    Similarity.writeIvfIndex(Similarity.ivfIndex(rest, "vec_id", "embedding", cents), dir)

    val fromDisk = Similarity.readIvfTopK(spark, dir, "vec_id", "embedding", cents, q, 10)
    val scan = fromDisk.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"cell probe not pruned at planning time:\n$scan")

    val inMem = Similarity.ivfTopK(
      Similarity.ivfIndex(rest, "vec_id", "embedding", cents),
      "vec_id", "embedding", cents, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fromDisk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == inMem.toSeq)
  }

  test("appendIvfIndex: appended index is row-identical to a full rebuild; drift gates retrain") {
    import spark.implicits._
    val dir = scratchDir("ivf_app").toString
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, iters = 2)
    // split the corpus: first half is the initial index, second half the batch
    val initial = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfIndex(Similarity.ivfIndex(initial, "vec_id", "embedding", cents), dir)

    val drift = Similarity.appendIvfIndex(batch, "vec_id", "embedding", cents, dir)
    assert(drift.nAppended == batch.count())
    // in-distribution batch (same synthetic corpus): no retrain signal
    assert(!drift.retrain, s"unexpected retrain at shift ${drift.maxRelativeShift}")
    assert(drift.meanQuantErr > 0)

    // parity: appended index ≡ rebuilding over the union with the SAME
    // frozen quantizer — identical (id, cell) assignment, and a probe
    // against the appended index still partition-prunes and returns the
    // rebuilt index's exact top-k
    val appended = spark.read.parquet(dir)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toSet
    val rebuilt = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect().toSet
    assert(appended == rebuilt)
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val fromDisk = Similarity.readIvfTopK(spark, dir, "vec_id", "embedding", cents, q, 10)
    val scan = fromDisk.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"))
    val viaRebuild = Similarity.ivfTopK(
      Similarity.ivfIndex(emb, "vec_id", "embedding", cents),
      "vec_id", "embedding", cents, q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fromDisk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == viaRebuild.toSeq)

    // an out-of-distribution batch (constant offset past the cell
    // spacing) must raise the retrain flag
    val shifted = batch.withColumn("embedding",
      transform(col("embedding"), x => x + lit(10.0f)))
    val dir2 = scratchDir("ivf_app2").toString
    Similarity.writeIvfIndex(Similarity.ivfIndex(initial, "vec_id", "embedding", cents), dir2)
    val drift2 = Similarity.appendIvfIndex(shifted, "vec_id", "embedding", cents, dir2)
    assert(drift2.retrain, s"shifted batch should signal retrain, got ${drift2.maxRelativeShift}")
    assert(drift2.maxRelativeShift > drift.maxRelativeShift)
  }

  test("IVF scans fewer rows than corpus (partition pruning analogue)") {
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 16)
    val indexed = Similarity.ivfIndex(emb, "vec_id", "embedding", cents)
    val total = indexed.count()
    // rows in the 4 probed cells — the actual scan set
    val probed = indexed.groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(probed.values.sum == total)
    assert(probed.size > 4, "cells should spread vectors")
  }

  test("LSH top-k with multiprobe returns k results with decent recall") {
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 1)
    val truth = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.lshTopK(rest, "vec_id", "embedding", 64, q, 10, nPlanes = 6)
      .collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty)
    val recall = truth.intersect(got).size.toDouble / truth.size
    assert(recall >= 0.2, s"LSH recall $recall") // 1/64 of corpus scanned
  }

  test("declared q91/q92 parameterizations are exact vs brute force at both sf corpora") {
    // q91/q92 attach the exact top-k DuckDB oracle; this pins the property
    // that makes the attachment sound: nprobe=C IVF is exact by
    // construction, and the seeded nPlanes=4/probeRadius=3 LSH (all
    // buckets except the antipodal one) recovers the full exact top-10
    // at BOTH corpora the driver verifies against.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
      val rest = e.filter(col("vec_id") =!= 1)
      val exact = Similarity.bruteForceTopK(rest, "vec_id", "embedding", q, 10, scale = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, iters = 2)
      val ivf = Similarity.ivfTopK(
        Similarity.ivfIndex(rest, "vec_id", "embedding", cents),
        "vec_id", "embedding", cents, q, 10, nprobe = 16, scale = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ivf == exact, s"q91 nprobe=C parameterization not exact at $dir")
      val lsh = Similarity.lshTopK(rest, "vec_id", "embedding", 64, q, 10,
        nPlanes = 4, probeRadius = 3, scale = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(lsh == exact, s"q92 radius-3 parameterization not exact at $dir")
    }
  }

  test("knnJoin with nprobe=C matches per-query brute force; nprobe=4 has recall") {
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, iters = 2)
    val qids = Seq(1L, 7L, 23L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding"))
    val corpus = emb.filter(!col("vec_id").isin(qids: _*))

    val exact = Similarity.knnJoin(corpus, queries, "vec_id", "qid", "embedding",
      k = 5, cents = cents, nprobe = 16, scale = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)

    // every query gets exactly its brute-force top-5, rank-aligned
    qids.foreach { q =>
      val qv = emb.filter(col("vec_id") === q).select("embedding").head.getSeq[Float](0).toArray
      val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qv, 5, scale = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val got = exact(q).sortBy(_._4).map(r => (r._2, r._3))
      assert(got.toSeq == truth.toSeq, s"query $q")
    }

    // approximate probing still recovers most neighbors
    val approx = Similarity.knnJoin(corpus, queries, "vec_id", "qid", "embedding",
      k = 5, cents = cents, nprobe = 4, scale = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.values.flatten.map(r => (r._1, r._2)).toSet
    val recall = approx.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.5, s"knnJoin nprobe=4 recall $recall")
  }

  test("knnJoin aggregate formulation equals the window twin; no Window in its plan") {
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16, iters = 2)
    val queries = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= 5)

    val agg = Similarity.knnJoin(corpus, queries, "vec_id", "qid", "embedding",
      k = 7, cents = cents, nprobe = 16, scale = 4)
    val win = Similarity.knnJoinWindowed(corpus, queries, "vec_id", "qid", "embedding",
      k = 7, cents = cents, nprobe = 16, scale = 4)
    val a = agg.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = win.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(a == w, s"agg-vs-window divergence: ${(a diff w) ++ (w diff a)}")

    // the scale property: candidates collapse in a partial ObjectHashAggregate,
    // and no Window operator buffers the candidate set
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected object-hash aggregate:\n$plan")
    assert(!plan.contains("Window"), s"window should not appear in the aggregate path:\n$plan")
    assert(plan.contains("partial_topkbyscore") || plan.toLowerCase.contains("partial"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("multi-probe bucket enumeration covers exactly hamming <= radius") {
    val probes = Similarity.probesWithin(sig = 0xbL, nPlanes = 5, radius = 2)
    val expected = (0 until 32).map(_.toLong)
      .filter(m => java.lang.Long.bitCount(m ^ 0xbL) <= 2)
    assert(probes.toSet == expected.toSet)
    assert(probes.size == probes.distinct.size)
    assert(Similarity.probesWithin(7L, 3, 3).toSet == (0 until 8).map(_.toLong).toSet)
  }

  test("hyperplane signature is deterministic across evaluations") {
    val planes = VectorFunctions.randomPlanes(64, 8)
    val sigs1 = emb.select(VectorFunctions.hyperplaneSignature(col("embedding"), planes))
      .collect().map(_.getLong(0))
    val sigs2 = emb.select(VectorFunctions.hyperplaneSignature(col("embedding"), planes))
      .collect().map(_.getLong(0))
    assert(sigs1.toSeq == sigs2.toSeq)
  }

  test("PQ is exact on a quantized corpus (subvectors drawn from the codebook)") {
    import spark.implicits._
    // dim 8, m = 2 subspaces of 4 dims; each subvector takes one of 4
    // known values. Rows 0..3 hold the 4 distinct values in BOTH
    // subspaces, so the min-id centroid seed starts exactly on them and
    // Lloyd stays there (each cluster is a set of identical points) —
    // the quantizer reconstructs every vector perfectly and ADC
    // distances equal true squared-L2 distances.
    val vals = Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 2f, 0f, 1f),
      Array(0f, 0f, 3f, 0f), Array(5f, 0f, 0f, 4f))
    val rows = (0 until 40).map { i =>
      val (a, b) = if (i < 4) (i, i) else ((i * 7) % 4, (i * 3 + 1) % 4)
      (i.toLong, (vals(a) ++ vals(b)).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", dim = 8, m = 2, ksub = 4, iters = 2)
    val encoded = Similarity.pqEncode(df, "vec_id", "embedding", cb)
    val query = (vals(2) ++ vals(1)).map(identity)
    val got = Similarity.pqTopK(encoded, "vec_id", query, cb, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // exact truth computed directly
    val truth = rows.map { case (id, v) =>
      (id, v.zip(query).map { case (x, q) => (x - q) * (x - q) }.sum.toDouble)
    }.sortBy { case (id, d) => (d, id) }.take(10)
      .map { case (id, d) => (id, math.rint(d * 1e6) / 1e6) }
    assert(got.toSeq == truth)
  }

  test("PQ ADC recall vs exact L2 top-k on the embeddings fixture") {
    // m=16/ksub=16 measured: recall 0.8 at window 30 (m=8 gives 0.4 —
    // i.i.d.-ish embeddings are PQ's worst case; finer subspaces recover)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", dim = 64, m = 16, ksub = 16, iters = 2)
    val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", cb).cache()
    val query = emb.orderBy("vec_id").select("embedding").head().getSeq[Float](0).toArray
    val qCol = array(query.map(lit).toIndexedSeq: _*)
    val exact = emb.select(col("vec_id"),
        VectorFunctions.l2Sq(col("embedding"), qCol).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    // rerank-window form: ADC top-30 should capture most of the true top-10
    val adc = Similarity.pqTopK(encoded, "vec_id", query, cb, k = 30)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & adc).size / 10.0
    assert(recall >= 0.7, s"ADC top-30 recall of exact top-10 = $recall")
    // determinism: training + encoding + query are all seeded/argmin-stable
    val again = Similarity.pqTopK(encoded, "vec_id", query, cb, k = 30)
      .collect().map(_.getLong(0)).toSet
    assert(again == adc)

    // IVF-PQ: with nprobe = C (all cells probed) the composition equals
    // plain ADC over the full corpus; with nprobe < C it scans less and
    // returns a subset-ranked result from the probed cells only
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, iters = 1)
    val ivfEncoded = Similarity.ivfIndex(encoded, "vec_id", "embedding", cents)
    val full = Similarity.ivfPqTopK(
      ivfEncoded, "vec_id", query, cents, cb, k = 30, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val plain = Similarity.pqTopK(encoded, "vec_id", query, cb, k = 30)
      .collect().map(_.getLong(0)).toSeq
    assert(full == plain, "nprobe=C IVF-PQ must equal full-corpus ADC")
    val probed = Similarity.ivfPqTopK(
      ivfEncoded, "vec_id", query, cents, cb, k = 30, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(probed.subsetOf(
      ivfEncoded.filter(col("cell").isin(
        Seq.range(0, 8): _*)).select("vec_id").collect().map(_.getLong(0)).toSet))
    assert((probed & adc).nonEmpty, "probed ADC should overlap full ADC top-30")

    // exact re-rank: with the window covering the whole corpus the
    // two-stage result IS the exact L2 top-k; at window 30 it returns
    // the exact-ordered captured candidates (ordering exactness)
    val n = emb.count().toInt
    val fullWindow = Similarity.pqTopKRerank(
      encoded, "vec_id", "embedding", query, cb, k = 10, window = n)
      .collect().map(_.getLong(0)).toSet
    assert(fullWindow == exact, "full-window rerank must equal exact top-k")
    val reranked = Similarity.pqTopKRerank(
      encoded, "vec_id", "embedding", query, cb, k = 10, window = 30)
      .collect().map(_.getLong(0)).toSet
    // every true-top-10 member the ADC window captured has a smaller
    // exact distance than any non-member, so re-ranking MUST keep it
    assert((exact & adc).subsetOf(reranked),
      "rerank must keep the ADC window's captured truth")
    encoded.unpersist()
  }

  test("clusterQuality: on-centroid members score 1, boundary members 0, counts per cell") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1f, 0f)),    // seed cell 0 (sits on its centroid)
      (2L, Array(0f, 1f)),    // seed cell 1
      (3L, Array(1f, 0f)),    // exactly centroid 0 → a=0, b=√2 → s=1
      (4L, Array(0.5f, 0.5f)) // equidistant → ties to cell 0, s=0
    ).toDF("id", "v")
    val cents = Similarity.centroids(vecs, "id", "v", c = 2)
    val rows = Similarity.clusterQuality(vecs, "id", "v", cents)
      .orderBy("cell").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((0, 3L), (1, 1L)))
    assert(math.abs(rows(0).getDouble(4) - 0.6667) < 1e-9) // (1 + 1 + 0) / 3
    assert(rows(1).getDouble(4) == 1.0)
    intercept[IllegalArgumentException] {
      Similarity.clusterQuality(vecs, "id", "v", cents.take(1))
    }
  }

  test("rrfFuse matches the hand-computed RRF formula on a small example") {
    import spark.implicits._
    // list 1 ranks: a(1), b(2), c(3); list 2 ranks: b(1), a(2), d(3)
    val l1 = Seq(("a", 0.9), ("b", 0.8), ("c", 0.7)).toDF("id", "s")
    val l2 = Seq(("b", 5.0), ("a", 4.0), ("d", 3.0)).toDF("id", "s")
    val fused = Similarity.rrfFuse(Seq((l1, "s"), (l2, "s")), "id", kRrf = 60, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    def c(r: Int) = BigDecimal(1.0 / (60 + r)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val exp = Seq(
      ("a", (c(1) + c(2)).toDouble, 2L),
      ("b", (c(2) + c(1)).toDouble, 2L),
      ("c", c(3).toDouble, 1L),
      ("d", c(3).toDouble, 1L))
    // a and b tie exactly (symmetric ranks); order breaks on id asc
    assert(fused == exp.sortBy { case (id, s, _) => (-s, id) })
  }

  test("rrfFuse rank ties break on id: equal scores rank deterministically") {
    import spark.implicits._
    val l = Seq(("x", 1.0), ("y", 1.0)).toDF("id", "s")
    val fused = Similarity.rrfFuse(Seq((l, "s")), "id", kRrf = 60, topK = 2).collect()
    assert(fused.map(_.getString(0)).toSeq == Seq("x", "y")) // x gets rank 1
    assert(fused(0).getDouble(1) > fused(1).getDouble(1))
  }

  test("rrfFuse drops NULL-score rows before ranking: they never take rank 1") {
    import spark.implicits._
    // lexical ranks: a(1), b(2), n unranked; semantic ranks: b(1), n(2)
    val lex = Seq[(String, Option[Double])](("n", None), ("a", Some(2.0)), ("b", Some(1.0)))
      .toDF("id", "s")
    val sem = Seq(("b", 0.9), ("n", 0.8)).toDF("id", "s")
    val fused = Similarity.rrfFuse(Seq((lex, "s"), (sem, "s")), "id", kRrf = 60, topK = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    def c(r: Int) = BigDecimal(1.0 / (60 + r)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(fused == Seq(
      ("b", (c(2) + c(1)).toDouble, 2L),
      ("a", c(1).toDouble, 1L),
      ("n", c(2).toDouble, 1L)))
  }

  test("rrfFuse refuses a pool that holds an id twice") {
    import spark.implicits._
    // "a" twice would otherwise merge into one group and rank 2, ahead of
    // "b" at rank 3 — and "b" would lose a rank it holds
    val pool = Seq(("a", 3.0), ("b", 2.0), ("a", 1.0)).toDF("id", "s")
    val other = Seq(("b", 1.0)).toDF("id", "s")
    val ex = intercept[Exception] {
      Similarity.rrfFuse(Seq((other, "s"), (pool, "s")), "id").collect()
    }
    assert(ex.getMessage.contains("id a appears more than once"), ex.getMessage)
  }

  test("hybridTopK: IVF semantic pool at nprobe=C fuses identically to brute force") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = emb.filter(col("vec_id") === 1).select("embedding").head.getSeq[Float](0).toArray
    val terms = Seq("join", "vector", "stream")
    val brute = Similarity.hybridTopK(docs, emb, terms, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // swap the semantic retriever for IVF probing ALL cells (nprobe=C ⇒ exact)
    val cents = Similarity.centroids(emb, "vec_id", "embedding", 8)
    val sem = Similarity.ivfTopK(
        Similarity.ivfIndex(emb, "vec_id", "embedding", cents),
        "vec_id", "embedding", cents, q, k = 50, nprobe = 8)
      .withColumnRenamed("vec_id", "doc_id")
    val lex = TextAnalysis.bm25(docs, terms, "doc_id", "text", topK = 50)
    val ivf = Similarity.rrfFuse(Seq((lex, "score"), (sem, "cos")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivf == brute, "nprobe=C IVF pool must fuse to the identical ranking")
  }
}
