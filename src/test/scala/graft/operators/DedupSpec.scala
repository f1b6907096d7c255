package graft.operators

import org.apache.logging.log4j.Level
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerProbe

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("exactKeepMin keeps the minimum-id row per key, deterministically") {
    import spark.implicits._
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b")).toDF("id", "k")
    val out = Dedup.exactKeepMin(df, Seq("k"), "id").orderBy("k")
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out.toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  test("substringDedup removes later tile occurrences, keeps firsts and tails") {
    import spark.implicits._
    // w=4 tiles; "p1..p8" is an 8-token span shared by docs 1 and 2 —
    // ALIGNED in both (starts at a tile boundary), so doc 2 loses both
    // tiles; doc 3 carries the same span shifted by one token
    // (misaligned) plus a 3-token tail
    val shared = (1 to 8).map(i => s"p$i").mkString(" ")
    val df = Seq(
      (1L, shared + " a b c d"),                 // tiles: [p1-p4][p5-p8][a b c d]
      (2L, shared + " e f g h"),                 // first two tiles duplicate doc 1's
      (3L, "z " + shared + " t1 t2")             // misaligned copy + sub-tile tail
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", w = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    assert(out(0) == ((1L, 3L, 0L, shared + " a b c d")), s"doc1: ${out(0)}")
    assert(out(1) == ((2L, 3L, 2L, "e f g h")), s"doc2 must lose the aligned span: ${out(1)}")
    // misalignment hides the tiles ([z p1 p2 p3], [p4 p5 p6 p7] are new
    // strings) — the tiling restriction, and why spans >= 2w are the
    // guarantee boundary; the sub-tile tail is always preserved
    assert(out(2) == ((3L, 2L, 0L, "z " + shared + " t1 t2")), s"doc3: ${out(2)}")

    // within-doc repetition also dedups: 3 identical tiles keep only the first
    val rep = Seq((9L, ((1 to 4).map(i => s"r$i").mkString(" ") + " ") * 3 + "tail"))
      .toDF("doc_id", "text")
    val r9 = Dedup.substringDedup(rep, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(r9 == ((3L, 2L, "r1 r2 r3 r4 tail")), s"within-doc: $r9")

    // idempotence: running again on the deduped text drops nothing new
    val again = Dedup.substringDedup(
      Dedup.substringDedup(df, "doc_id", "text", w = 4)
        .select(col("doc_id"), col("text_dedup").as("text")),
      "doc_id", "text", w = 4)
    assert(again.agg(sum("n_dup_tiles")).head.getLong(0) == 0L)
  }

  test("substringDedupIncremental equals full recompute on the batch; store merges associatively") {
    import spark.implicits._
    val history = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val store = Dedup.tileHashStore(history, "doc_id", "text", w = 12)

    val incremental = Dedup.substringDedupIncremental(batch, store, "doc_id", "text", w = 12)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val full = Dedup.substringDedup(docs, "doc_id", "text", w = 12)
      .filter(col("doc_id") >= 250)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(incremental.toSeq == full.toSeq)
    assert(incremental.nonEmpty)

    // merging the store with the batch's tiles ≡ building from the union
    val merged = store
      .unionAll(Dedup.tileHashStore(batch, "doc_id", "text", w = 12))
      .groupBy("h").agg(min("first_key").as("first_key"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val fromUnion = Dedup.tileHashStore(docs, "doc_id", "text", w = 12)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(merged == fromUnion)
  }

  test("shingleHashes: distinct w-shingles, empty below w tokens") {
    import spark.implicits._
    val df = Seq("a b c d", "a b", "a b c a b c").toDF("text")
    val sizes = df.select(size(Dedup.shingleHashes(col("text"), 3))).collect().map(_.getInt(0))
    // "a b c d" → {abc,bcd}; "a b" → none; "a b c a b c" → {abc,bca,cab}
    assert(sizes.toSeq == Seq(2, 0, 3))
  }

  test("native ShingleHashesExpr is value-identical to the HOF formulation") {
    import spark.implicits._
    val edge = Seq("", "   ", "one two", "A b C d A b C d", "x\ty  z w").toDF("text")
    for (frame <- Seq(docs, edge)) {
      val both = frame.select(
        Dedup.shingleHashesHof(col("text"), 3).as("hof"),
        Dedup.shingleHashes(col("text"), 3).as("native"))
      val mismatches = both.filter(col("hof") =!= col("native")).count()
      assert(mismatches == 0)
    }
  }

  test("native SimHashExpr is value-identical to the HOF formulation") {
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two three", "x\ty  z").toDF("text")
    for (frame <- Seq(docs, edge)) {
      val both = frame.select(
        Dedup.simHashHof(col("text")).as("hof"),
        Dedup.simHash(col("text")).as("native"))
      assert(both.filter(col("hof") =!= col("native")).count() == 0)
    }
  }

  test("native SimHashMd5Expr is value-identical to the HOF formulation") {
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two three", "x\ty  z", "Ünïcode tök").toDF("text")
    for (frame <- Seq(docs, edge)) {
      val both = frame.select(
        Dedup.simHashMd5Hof(col("text")).as("hof"),
        Dedup.simHashMd5(col("text")).as("native"))
      assert(both.filter(col("hof") =!= col("native")).count() == 0)
    }
  }

  test("simHashMd5NearDups matches the exhaustive all-pairs result") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "completely different words entirely unrelated content here"),
      (5L, ""))
      .toDF("id", "text")
    val banded = Dedup.simHashMd5NearDups(df, "id", "text", maxDist = 3, maxBucket = 1000)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    // exhaustive baseline from the fingerprints themselves
    val fps = df.select(col("id"),
      Dedup.simHashMd5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      java.lang.Long.bitCount(a(0) ^ b(0)) + java.lang.Long.bitCount(a(1) ^ b(1))
    val ids = fps.keys.toSeq.sorted
    val exhaustive = for {
      a <- ids; b <- ids if a < b
      d = ham(fps(a), fps(b)) if d <= 3
    } yield (a, b, d)

    assert(banded.toSeq == exhaustive)
    assert(exhaustive.contains((1L, 2L, 0)), "exact dup must pair at distance 0")
  }

  test("simHashMd5NearDupsVsStore: run-over-monotone-batches ≡ one full pass") {
    import spark.implicits._
    val all = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),   // dup of 1 (batch 1)
      (3L, "completely different words entirely unrelated content here"),
      (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1/2 (batch 2)
      (5L, "completely different words entirely unrelated content there"), // near 3
      (6L, "utterly novel sentence with no twin anywhere in sight"))
      .toDF("id", "text")
    val b1 = all.filter(col("id") <= 3)
    val b2 = all.filter(col("id") > 3)
    val fps1 = Dedup.simHashMd5Fingerprints(b1, "id", "text")
    val fps2 = Dedup.simHashMd5Fingerprints(b2, "id", "text")
    val empty = fps1.limit(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val inc =
      rows(Dedup.simHashMd5NearDupsVsStore(fps1, empty, maxDist = 3, maxBucket = 1000)) ++
        rows(Dedup.simHashMd5NearDupsVsStore(fps2, fps1, maxDist = 3, maxBucket = 1000))
    val full = rows(Dedup.simHashMd5NearDups(all, "id", "text", maxDist = 3, maxBucket = 1000))
    assert(inc.sorted == full.sorted, s"inc $inc vs full $full")
    assert(inc.exists { case (a, b, _) => a <= 3 && b > 3 },
      "a cross-batch pair must surface through the store side")
  }

  test("decontaminateSpansVsStore ≡ decontaminateSpans (hash-store form)") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro words then alpha beta gamma delta epsilon zeta eta theta closing remarks after"),
      (2L, "no overlap with the held out benchmark text at all in this row"))
      .toDF("doc_id", "text")
    val store = Dedup.heldOutShingles(bench, "doc_id", "text", w = 8)
    val a = Dedup.decontaminateSpans(train, bench, "doc_id", "text", w = 8)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.decontaminateSpansVsStore(train, store, "doc_id", "text", w = 8)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(a.head.getAs[Long]("n_spans") >= 1, "the contaminated span must be found")
  }

  test("native MinHashSignatureExpr is value-identical to the HOF formulation") {
    import graft.functions.MinHashSignatureExpr
    val sh = Dedup.shingleHashes(col("text"), 3)
    val both = docs.select(
      Dedup.minHashSignature(sh, k = 128, seed = 42L).as("hof"),
      MinHashSignatureExpr(sh, k = 128, seed = 42L).as("native"))
    val mismatches = both.filter(
      (col("hof").isNull =!= col("native").isNull) ||
        (col("hof").isNotNull && col("hof") =!= col("native"))).count()
    assert(mismatches == 0)
  }

  test("the signature kernel's Mersenne reduction equals the % form on any long") {
    import graft.functions.MinHash.{modP, P}
    def byRemainder(x: Long): Long = { val v = x % P; if (v < 0) v + P else v }
    val rng = new scala.util.Random(7)
    val edges = Seq(Long.MinValue, Long.MaxValue, 0L, 1L, -1L, 7L, -8L) ++
      (-9L to 9L).flatMap(m => Seq(m * P - 1, m * P, m * P + 1))
    // a·h + b as the kernel forms it: a in [1, P), b in [0, P), any h
    def below(n: Long) = java.lang.Math.floorMod(rng.nextLong(), n)
    val products = Seq.fill(200000)((below(P - 1) + 1) * rng.nextLong() + below(P))
    val xs = edges ++ Seq.fill(200000)(rng.nextLong()) ++ products
    val wrong = xs.filter(x => modP(x) != byRemainder(x))
    assert(wrong.isEmpty, s"${wrong.size} mismatches, first ${wrong.take(5)}")
  }

  test("minhash signature is deterministic and k-long") {
    val sig = docs.select(
      Dedup.minHashSignature(Dedup.shingleHashes(col("text"), 3), k = 64).as("s"))
      .filter(col("s").isNotNull)
    val sizes = sig.select(size(col("s"))).distinct().collect().map(_.getInt(0))
    assert(sizes.toSeq == Seq(64))
    // determinism: identical across two evaluations
    val a = sig.collect().map(_.getSeq[Long](0))
    val b = sig.collect().map(_.getSeq[Long](0))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("minhash LSH near-dups achieve high recall vs exhaustive jaccard") {
    // exhaustive truth at jaccard >= 0.5 over trigram shingle sets
    val a = docs.select(col("doc_id").as("id_a"), Dedup.shingleHashes(col("text"), 3).as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), Dedup.shingleHashes(col("text"), 3).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
    val truth = a.join(b, col("id_a") < col("id_b"))
      .withColumn("jac", when(union === 0, 1.0).otherwise(inter / union))
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val found = Dedup.minHashNearDups(docs, "doc_id", "text", k = 128, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "fixture should contain near-dups")
    // verification step guarantees precision = 1.0
    assert(found.subsetOf(truth))
    // banding (32 bands × 4 rows) catches ~all pairs at jac 0.5
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (found ${found.size}/${truth.size})")
  }

  test("jaccardPrefixJoin equals the exhaustive all-pairs join exactly") {
    // Prefix filtering is LOSSLESS pruning, so this is set equality,
    // not a recall band — the property that lets q177 share q83's
    // exhaustive oracle without a boundedExhaustive guard.
    for (t <- Seq(0.3, 0.5, 0.85)) {
      val a = docs.select(col("doc_id").as("id_a"), Dedup.shingleHashes(col("text"), 3).as("sh_a"))
      val b = docs.select(col("doc_id").as("id_b"), Dedup.shingleHashes(col("text"), 3).as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
      val truth = a.join(b, col("id_a") < col("id_b"))
        .withColumn("jac", round(when(union === 0, 1.0).otherwise(inter / union), 6))
        .filter(col("jac") >= t)
        .select("id_a", "id_b", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      val got = Dedup.jaccardPrefixJoin(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      assert(got == truth, s"t=$t: ${got.diff(truth)} extra, ${truth.diff(got)} missing")
      if (t <= 0.5) assert(truth.nonEmpty, s"fixture should contain pairs at $t")
    }
  }

  test("jaccardPrefixJoin prunes: candidates well below all-pairs, and include every emitted pair") {
    import spark.implicits._
    val toks = docs.select(col("doc_id").as("__id"),
      explode(Dedup.shingleHashes(col("text"), 3)).as("__tok"))
    val sizes = toks.groupBy("__id").agg(count(lit(1)).as("__sz"))
    val n = sizes.count()
    val cands = Dedup.jaccardPrefixCandidates(toks, sizes, 0.5)
    val candSet = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = n * (n - 1) / 2
    assert(candSet.size < allPairs / 10,
      s"prefix filter should prune >90% at t=0.5: ${candSet.size} of $allPairs")
    val emitted = Dedup.jaccardPrefixJoin(docs, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(emitted.subsetOf(candSet), "every emitted pair must be a candidate")
  }

  test("self-joins over the dedup barriers drop no metric update under GC pressure") {
    // jaccardPrefixJoin's and minHashNearDups' self-joins run two stages
    // over one barrier at once, and the first job to end cuts the
    // barrier's lineage while the other stage still runs. With a
    // collection every 50 ms, a barrier that did not hold its source's
    // metrics made DAGScheduler log "Failed to update accumulator ...
    // non-existent accumulator" here (Dedup.jaccardPrefixJoin,
    // Dedup.minHashCandidates).
    val gc = new Thread(() =>
      try while (true) { System.gc(); Thread.sleep(50) }
      catch { case _: InterruptedException => })
    gc.setDaemon(true)
    val errors = logged("org.apache.spark.scheduler.DAGScheduler", Level.ERROR) {
      gc.start()
      try {
        for (_ <- 1 to 3) {
          Dedup.jaccardPrefixJoin(docs, "doc_id", "text", 0.5).collect()
          Dedup.minHashNearDups(docs, "doc_id", "text").collect()
        }
        ListenerProbe.drain(spark.sparkContext)
      } finally { gc.interrupt(); gc.join() }
    }
    assert(errors.isEmpty, s"${errors.size} dropped metric updates, e.g. ${errors.headOption}")
  }

  test("q81 oracle soundness: banding catches EVERY exhaustive pair at both corpora") {
    // q81 attaches an EXACT-match oracle to a probabilistic operator.
    // Sound iff the seeded banding's recall is exactly 1 at the corpora
    // the driver verifies — asserted directly here (found == truth, a
    // deterministic fact given fixed seeds). Additionally fail loudly on
    // fixture drift into the [0.5, 0.8) jaccard band, where a 32×4
    // banding miss has non-negligible probability per seed (~1.3e-2 at
    // j=0.6, ~13% at j=0.5) — a future miss would otherwise surface as
    // a confusing oracle hash-mismatch far from the cause. (The corpus
    // today has pairs only at j >= 0.88, where the miss prob is ~1e-14.)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val a = d.select(col("doc_id").as("id_a"), Dedup.shingleHashes(col("text"), 3).as("sh_a"))
      val b = d.select(col("doc_id").as("id_b"), Dedup.shingleHashes(col("text"), 3).as("sh_b"))
      val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val union = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
      val exhaustive = a.join(b, col("id_a") < col("id_b"))
        .withColumn("jac", when(union === 0, 1.0).otherwise(inter / union))
        .filter(col("jac") >= 0.5)
      val truth = exhaustive.select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val lowBand = exhaustive.filter(col("jac") < 0.8)
        .select("id_a", "id_b", "jac").collect()
      assert(lowBand.isEmpty,
        s"fixture drift at $dir: pairs in [0.5, 0.8) make q81's exact oracle " +
          s"seed-fragile: ${lowBand.mkString(", ")}")

      val found = Dedup.minHashNearDups(
        d, "doc_id", "text", k = 128, bands = 32, w = 3, threshold = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == truth,
        s"q81 != oracle at $dir: missed ${(truth -- found).mkString(",")} " +
          s"extra ${(found -- truth).mkString(",")}")
    }
  }

  test("Zipf-skew fixture: hot shingle in 30% of docs, candidate count stays bounded") {
    import spark.implicits._
    // 90 of 300 docs are mostly the same boilerplate (one hot shingle set)
    // with short unique tails; 210 docs are fully unique. Unguarded, the
    // boilerplate group alone generates ~90·89/2 = 4005 candidates — the
    // quadratic hot-bucket term. Both guards must bound it.
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val skewed = ((1 to 90).map(i => (i.toLong, s"$boiler tail$i end$i")) ++
      (91 to 300).map(i =>
        (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i")))
      .toDF("id", "text")

    def candidates(maxBucket: Int, exclude: Array[Long]): Long =
      Dedup.minHashCandidates(skewed, "id", "text",
        k = 128, bands = 32, w = 3, seed = 42L,
        maxBucket = maxBucket, excludeShingles = exclude)._2.count()

    val unguarded = candidates(maxBucket = 1024, exclude = Array.empty)
    assert(unguarded >= 3000L, s"fixture should exhibit the quadratic term, got $unguarded")

    // guard 1: hot-bucket cap — saturated boilerplate buckets (~90 ids)
    // are dropped at cap 20; bands where the unique tails perturb the
    // signature leave small sub-cap buckets, so a bounded remainder
    // survives — the point is the quadratic term is gone (>10× down)
    val capped = candidates(maxBucket = 20, exclude = Array.empty)
    assert(capped <= unguarded / 10,
      s"cap should collapse the quadratic term: $capped vs unguarded $unguarded")

    // guard 2: stop-shingle exclusion — removes the cause; docs reduce to
    // their unique tails, so candidates collapse without any cap
    val hot = Dedup.hotShingles(skewed, "text", w = 3, minDf = 80)
    assert(hot.nonEmpty, "boilerplate shingles should exceed minDf")
    val excluded = candidates(maxBucket = 1024, exclude = hot)
    assert(excluded <= 50L,
      s"stop-shingle exclusion should collapse the quadratic term, got $excluded")
  }

  test("minHashDedup removes one side of each dup pair") {
    val deduped = Dedup.minHashDedup(docs, "doc_id", "text", threshold = 0.5)
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.5).count()
    assert(deduped.count() < docs.count() || pairs == 0)
    // surviving set has no near-dup pair (greedy keeps min-id)
    val again = Dedup.minHashNearDups(deduped, "doc_id", "text", threshold = 0.5)
    // greedy transitive approximation can retain chained pairs; allow few
    assert(again.count() <= pairs)
  }

  test("maxBucket cap drops saturated hot buckets, default keeps real dups") {
    import spark.implicits._
    // 50 identical docs: every band bucket has all 50 ids
    val hot = (1L to 50L).map(i => (i, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val capped = Dedup.minHashNearDups(hot, "id", "text", maxBucket = 10)
    assert(capped.count() == 0) // all buckets saturated past the cap
    val uncapped = Dedup.minHashNearDups(hot, "id", "text")
    assert(uncapped.count() == 50L * 49 / 2) // every pair found, jaccard 1.0
  }

  test("hotShingles finds corpus-wide boilerplate; exclusion keeps true pairs") {
    import spark.implicits._
    val boiler = "alpha beta gamma"
    val docs = ((1 to 18).map(i =>
      (i.toLong, s"$boiler unique$i word$i token$i extra$i more$i stuff$i")) ++ Seq(
      (100L, s"$boiler shared tail of this near duplicate document pair here"),
      (101L, s"$boiler shared tail of this near duplicate document pair here")))
      .toDF("id", "text")

    val hot = Dedup.hotShingles(docs, "text", w = 3, minDf = 15)
    assert(hot.nonEmpty) // the all-boilerplate shingle appears in all 20 docs

    val plain = Dedup.minHashNearDups(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minHashNearDups(docs, "id", "text", excludeShingles = hot)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.contains((100L, 101L)))
    assert(capped.contains((100L, 101L))) // true pair survives boilerplate removal
    assert(!capped.exists { case (a, b) => a <= 18 && b <= 18 }) // no boilerplate-only pairs
  }

  test("contaminationScore: exact shared-shingle fractions; shingle-less docs absent") {
    import spark.implicits._
    val eval = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e f g h i j"), // all 3 shingles shared → 1.0
      (2L, "a b c d e f g h x y"), // only "a..h" shared → 1/3
      (3L, "p q r s t u v w x y"), // nothing shared → 0.0
      (4L, "too short")            // < 8 tokens → no shingles → absent
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(corpus, eval, "doc_id", "text", w = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, 1.0),
      (2L, 3L, 1L, 0.333333),
      (3L, 3L, 0L, 0.0)))
  }

  test("nearDupClusters: exact components on chain, star, and split graphs") {
    import spark.implicits._
    // chain 1-2-3-4, star 10-{11,12,13}, separate pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
    // stable under row order / direction-of-edge permutations
    val shuffled = Seq((21L, 20L), (4L, 3L), (13L, 10L), (3L, 2L), (12L, 10L),
      (2L, 1L), (11L, 10L)).map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .toDF("id_a", "id_b")
    val again = Dedup.nearDupClusters(shuffled)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("nearDupClusters refuses to return non-converged labels") {
    import spark.implicits._
    // one round leaves the 6-node path as 1-2, 1-3, 2-4, 3-5, 4-6, no
    // star forest yet — must throw, never silently return local-minimum
    // labels
    val chain = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.nearDupClusters(chain, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("maxRounds"))
    // and converges fine with the default bound
    val ok = Dedup.nearDupClusters(chain).collect().map(r => r.getLong(1)).distinct
    assert(ok.toSeq == Seq(1L))
  }

  test("splitByCluster: a near-dup component never straddles a split boundary") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chains of 4 at 10k+1..10k+4 plus a star at 151-{152,153}
    val pairs = ((1L to 200L).filter(i => i % 10 >= 1 && i % 10 <= 3 && i < 200)
      .map(i => (i, i + 1)) ++ Seq((151L, 152L), (151L, 153L)))
      .toDF("id_a", "id_b")
    val got = Dedup.splitByCluster(docs, "doc_id", pairs)
    // 1. every clustered doc shares its component's split
    val comp = Dedup.nearDupClusters(pairs)
    val leak = Dedup.splitLeakage(pairs, got, "doc_id", "split")
    assert(leak.isEmpty, "no pair may straddle splits by construction")
    val perCluster = got.join(comp.withColumnRenamed("id", "doc_id"), "doc_id")
      .groupBy("cluster").agg(countDistinct("split").as("n"))
      .collect()
    assert(perCluster.forall(_.getLong(1) == 1L), "one split per component")
    // 2. singletons use their own id as rep; everyone is assigned
    val all = got.collect()
    assert(all.length == 200 && all.forall(_.getAs[String]("split") != null))
    val reps = got.filter(col("doc_id") === 5L).select("cluster_rep")
      .head().getLong(0)
    assert(reps == 5L, "untouched doc is its own singleton cluster")
    // 3. the assignment is exactly splitByGroup on the cluster rep
    val viaGroup = ScaleOps.splitByGroup(
      got.drop("split"), "cluster_rep").select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(all.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
      == viaGroup)
  }

  test("1-bit minhash: packing extracts signature parities; estimator tracks exact Jaccard") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // packing: bit i of the sketch == low bit of signature component i
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text").limit(20)
      .withColumn("bb", graft.functions.OneBitMinHashExpr(col("sig")))
      .collect()
    sigs.foreach { r =>
      val sig = r.getSeq[Long](r.fieldIndex("sig"))
      val bb = r.getSeq[Long](r.fieldIndex("bb"))
      assert(bb.length == 2, "128 components pack into 2 words")
      sig.zipWithIndex.foreach { case (v, i) =>
        val bit = (bb(i >> 6) >>> (i & 63)) & 1L
        assert(bit == (v & 1L), s"bit $i mismatch")
      }
    }
    // estimator: on pairs with known exact Jaccard, |Ĵ − J| stays within
    // ~4 sd (sd ≈ 0.09 at k=128) — checked on the fixture's true pairs
    val pairs = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val sigAll = Dedup.minHashSignatures(docs, "doc_id", "text")
      .withColumn("bb", graft.functions.OneBitMinHashExpr(col("sig")))
      .select(col("id"), col("bb"))
    val est = pairs
      .join(sigAll.select(col("id").as("id_a"), col("bb").as("bb_a")), Seq("id_a"))
      .join(sigAll.select(col("id").as("id_b"), col("bb").as("bb_b")), Seq("id_b"))
      .withColumn("est", Dedup.oneBitJaccardEst(col("bb_a"), col("bb_b")))
      .select("jaccard", "est").collect()
    assert(est.nonEmpty, "fixture must contain near-dup pairs")
    est.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.36,
        s"estimate ${r.getDouble(1)} too far from exact ${r.getDouble(0)}")
    }
  }

  test("minHashNearDupsBBit == minHashNearDups (screen is output-invariant on the fixture)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plain = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val screened = Dedup.minHashNearDupsBBit(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(screened == plain,
      s"screen must not change the verified pair set: ${screened.diff(plain).take(3)} / ${plain.diff(screened).take(3)}")
    // a disabled screen (margin past the estimator's range) is the identity
    val disabled = Dedup.minHashNearDupsBBit(docs, "doc_id", "text",
        threshold = 0.5, screenMargin = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(disabled == plain)
    // the incremental path's screen (sketches derived from stored
    // signatures) is output-invariant too
    val store = Dedup.minHashSignatures(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val incPlain = Dedup.minHashNearDupsIncremental(
        docs.filter(col("doc_id") % 2 === 1), store, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val incScreened = Dedup.minHashNearDupsIncremental(
        docs.filter(col("doc_id") % 2 === 1), store, "doc_id", "text",
        threshold = 0.5, screenMargin = Some(0.3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incScreened == incPlain)
  }

  test("one-permutation signatures: dense bins, densified empties, verified output parity") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // kernel shape: k components, none left at the uninitialized 0
    // sentinel (densification filled every empty bin), deterministic
    val sigs = docs.limit(10)
      .select(col("doc_id"),
        graft.functions.OnePermSignatureExpr(
          Dedup.shingleHashes(col("text"), 3), 128, 42L).as("sig"))
      .collect()
    sigs.foreach { r =>
      val sig = r.getSeq[Long](1)
      assert(sig.length == 128)
    }
    val again = docs.limit(10)
      .select(col("doc_id"),
        graft.functions.OnePermSignatureExpr(
          Dedup.shingleHashes(col("text"), 3), 128, 42L).as("sig"))
      .collect()
    assert(sigs.map(_.getSeq[Long](1)).toSeq == again.map(_.getSeq[Long](1)).toSeq,
      "signatures must be deterministic")
    // per-bin match fraction approximates exact Jaccard on true pairs
    // (unbiasedness of densified OPH), within wide-but-meaningful bands
    val exact = Dedup.minHashNearDups(docs, "doc_id", "text", threshold = 0.5)
    val sigAll = docs.select(col("doc_id").as("id"),
      graft.functions.OnePermSignatureExpr(
        Dedup.shingleHashes(col("text"), 3), 128, 42L).as("sig"))
    val matchFrac = exact
      .join(sigAll.select(col("id").as("id_a"), col("sig").as("s_a")), Seq("id_a"))
      .join(sigAll.select(col("id").as("id_b"), col("sig").as("s_b")), Seq("id_b"))
      .withColumn("mf",
        aggregate(zip_with(col("s_a"), col("s_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, e) => acc + e).cast("double") / 128.0)
      .select("jaccard", "mf").collect()
    assert(matchFrac.nonEmpty)
    matchFrac.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.2,
        s"OPH match fraction ${r.getDouble(1)} vs exact J ${r.getDouble(0)}")
    }
    // end-to-end: the exact-verified pair set matches the k-permutation
    // path on the fixture (recall parity at its J separation)
    val viaOph = Dedup.minHashNearDups(docs, "doc_id", "text",
        threshold = 0.5, oneperm = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaKperm = exact
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaOph == viaKperm,
      s"diff: ${viaOph.diff(viaKperm).take(3)} / ${viaKperm.diff(viaOph).take(3)}")
  }

  test("splitByClusterIncremental: stability, inheritance, conflict quarantine, replay no-op") {
    import spark.implicits._
    val storeDocs = (1L to 40L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val storePairs = Seq((1L, 2L), (2L, 3L), (11L, 12L), (21L, 22L)).toDF("id_a", "id_b")
    val store = Dedup.splitByCluster(storeDocs, "doc_id", storePairs)
      .select(col("doc_id"), col("cluster_rep"), col("split"))
    val before = store.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // find two store clusters with DIFFERENT splits to build the
    // conflict, and one to inherit from (fixture-independent: derive
    // from the actual md5 assignment)
    val repSplit = before.values.toMap
    val (repA, splitA) = repSplit.head
    val diff = repSplit.find(_._2 != splitA)
    assume(diff.isDefined, "fixture must yield two distinct splits")
    val (repB, splitB) = diff.get
    val batchDocs = (101L to 110L).map(i => (i, s"b$i")).toDF("doc_id", "text")
    val batchPairs = Seq(
      (101L, 102L),            // batch-only component
      (repA, 104L),            // inherit arm: joins cluster repA
      (repA, 105L), (repB, 105L) // conflict arm: bridges two splits
    ).toDF("id_a", "id_b")
    val (adv, conflicts) = Dedup.splitByClusterIncremental(
      store, batchDocs, "doc_id", batchPairs)
    val after = adv.collect()
      .map(r => (r.getLong(0), (r.getLong(1), Option(r.getString(2))))).toMap
    // 1. STABILITY: every store doc keeps its split verbatim
    before.foreach { case (id, (_, sp)) =>
      assert(after(id)._2.contains(sp), s"store doc $id moved split")
    }
    // 2. inherit arm, witnessed in a separate advance: in the conflict
    // advance above, every doc touching repA rides into the bridged
    // component, so the inherit case needs a pair set without the bridge
    val (adv2, conflicts2) = Dedup.splitByClusterIncremental(
      store, batchDocs, "doc_id",
      Seq((101L, 102L), (repA, 104L)).toDF("id_a", "id_b"))
    val a2 = adv2.collect()
      .map(r => (r.getLong(0), (r.getLong(1), Option(r.getString(2))))).toMap
    assert(a2(104L)._2.contains(splitA), "batch doc must inherit the store split")
    assert(conflicts2.isEmpty, "no conflict in the inherit-only advance")
    // 3. batch-only component hashes exactly like the batch operator
    val fresh = Dedup.splitByCluster(
        batchDocs.filter(col("doc_id").isin(101L, 102L)), "doc_id",
        Seq((101L, 102L)).toDF("id_a", "id_b"))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(101L, 102L).foreach { id =>
      assert(a2(id)._2.contains(fresh(id)), s"batch-only doc $id diverged from batch op")
    }
    // 4. conflict arm: bridged batch docs quarantine (null split); the
    // conflict report names the merged component once
    assert(after(105L)._2.isEmpty, "bridging doc must quarantine")
    assert(after(104L)._2.isEmpty, "the whole bridged batch component quarantines")
    val confRows = conflicts.collect()
    assert(confRows.length == 1 && confRows.head.getLong(1) == 2L,
      s"one bridged component with 2 splits: ${confRows.toSeq}")
    // 5. replay no-op: advancing again with the same batch changes nothing
    val (adv3, _) = Dedup.splitByClusterIncremental(
      adv, batchDocs, "doc_id", batchPairs)
    val a3 = adv3.collect()
      .map(r => (r.getLong(0), (r.getLong(1), Option(r.getString(2))))).toMap
    assert(a3 == after, "replaying the ingested batch must be a no-op")
  }

  /** Component minimum of every id in `pairs`, by union-find on the
    * driver: the root of a set is always its least id.
    */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("nearDupClusters matches a union-find oracle") {
    import spark.implicits._
    // the shapes that tell CC algorithms apart: chain (diameter), clique
    // (density), star (fan), a self-pair-only id, a seeded random graph,
    // and a 2,000-node path with shuffled ids, which label propagation
    // needs hundreds of rounds for
    val rng = new scala.util.Random(23)
    val structured = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (20L, 21L), (30L, 30L))
    val random = (1 to 300).map(_ =>
      (rng.nextInt(120).toLong + 100L, rng.nextInt(120).toLong + 100L))
    val path = rng.shuffle((1L to 2000L).toVector).sliding(2).map(s => (s(0), s(1))).toSeq
    for ((name, pairs) <- Seq("structured + random" -> (structured ++ random), "path" -> path)) {
      val got = Dedup.nearDupClusters(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(pairs)
      assert(got == want,
        s"$name: ${got.toSet.diff(want.toSet).take(5)} vs ${want.toSet.diff(got.toSet).take(5)}")
    }
  }

  test("nearDupClusters closes a clique-plus-star in one round") {
    import spark.implicits._
    // a 5-clique and a star whose center 15 is its greatest id: one
    // round makes both stars around their minima, so a cap of one round
    // does not throw
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val forest = (clique ++ (11L to 14L).map(_ -> 15L)).toDF("id_a", "id_b")
    var labels = Map.empty[Long, Long]
    val jobs = logJobs {
      labels = Dedup.nearDupClusters(forest, maxRounds = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(labels == ((1L to 5L).map(_ -> 1L) ++ (11L to 15L).map(_ -> 11L)).toMap)
    // adaptive execution runs each shuffle stage as a job of its own: the
    // first node table's window, its count (an exchange and a result),
    // the round's two windows, their count, and the collect, which reads
    // the last table without an exchange
    assert(jobs.count(_ == "job") == 8, s"jobs: ${jobs.mkString(", ")}")
  }

  test("minHashDedupExact keeps one representative per component (vs greedy)") {
    import spark.implicits._
    // 1 and 2 are both near-dups of 3, but not of each other: the greedy
    // rule keeps {1, 2}; exact transitive closure keeps only {1}
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base + " alpha beta gamma"),
      (2L, base + " delta epsilon zeta"),
      (3L, base + " alpha beta zeta"),
      (9L, "completely unrelated document with its own distinct words here"))
      .toDF("id", "text")
    val pairs = Dedup.minHashNearDups(docs, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"fixture should link 1-3 and 2-3, got $pairs")

    val exact = Dedup.minHashDedupExact(docs, "id", "text", threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    if (pairs.contains((1L, 2L))) assert(exact == Set(1L, 9L))
    else {
      assert(exact == Set(1L, 9L), s"one representative per component, got $exact")
      val greedy = Dedup.minHashDedup(docs, "id", "text", threshold = 0.5)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(greedy == Set(1L, 2L, 9L), s"greedy keeps both 1 and 2, got $greedy")
    }
  }

  test("decontaminate drops docs sharing a long shingle with the eval set") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta theta" // one 8-gram
    val corpus = Seq(
      (1L, s"prefix words then $run and a tail"), // verbatim eval run → dropped
      (2L, "completely unrelated content with different words entirely here now"),
      (3L, "alpha beta gamma different continuation breaks the eight gram run"))
      .toDF("id", "text")
    val evalSet = Seq((100L, s"the benchmark question contains $run exactly"))
      .toDF("id", "text")

    val kept = Dedup.decontaminate(corpus, evalSet, "id", "text", w = 8, minShared = 1)
      .select("id").collect().map(_.getLong(0)).sorted
    // doc 3 shares only a 3-word prefix — below the 8-gram bar — and stays
    assert(kept.toSeq == Seq(2L, 3L))

    // minShared above the overlap count keeps everything
    val lax = Dedup.decontaminate(corpus, evalSet, "id", "text", w = 8, minShared = 5)
      .count()
    assert(lax == 3)
  }

  test("simhash: identical docs distance 0; near-dups small distance") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "completely different words entirely unrelated content here"))
      .toDF("id", "text")
    val fps = df.select(col("id"), Dedup.simHash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(3L)) <= 16)
    assert(ham(fps(1L), fps(4L)) > ham(fps(1L), fps(3L)))
  }

  test("simHashNearDups finds exact-dup pair via pigeonhole banding") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"))
      .toDF("id", "text")
    val pairs = Dedup.simHashNearDups(df, "id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("embedding near-dup LSH: precision 1.0 (verified cosine)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val found = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.45, nPlanes = 4)
    val bad = found.filter(col("cos") < 0.45).count()
    assert(bad == 0)
  }

  test("corpusSizeHint auto-sizes the plane count via the nPlanesFor rule") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val auto = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.45, nPlanes = 99 /* ignored */, nTables = 48,
      corpusSizeHint = Some(n))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.45, nPlanes = Similarity.nPlanesFor(n), nTables = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit)
  }

  test("embedding near-dup LSH: OR-tables reach recall 1 vs exhaustive") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", VectorFunctions.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= 0.45)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // per-table collision at cos 0.45 is ~0.42 (2 planes); 48 OR-tables
    // miss a true pair w.p. (1 − 0.42)^48 ≈ 4e-11 — recall is 1 in any
    // run that doesn't win the lottery twice
    val found = Dedup.embeddingNearDups(emb, "vec_id", "embedding", dim = 64,
      threshold = 0.45, nPlanes = 2, nTables = 48)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(truth.nonEmpty, "fixture should contain near-dup embeddings")
    assert(found.subsetOf(truth)) // precision 1.0 (verified cosine)
    assert(found == truth, s"missed ${(truth -- found).mkString(",")}")
  }

  test("incremental near-dup equals the full pass minus history-internal pairs") {
    import spark.implicits._
    // split the corpus into "history" (even ids) and a "new batch" (odd)
    val history = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val store = Dedup.minHashSignatures(history, "doc_id", "text")

    val incr = Dedup.minHashNearDupsIncremental(batch, store, "doc_id", "text")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minHashNearDups(docs, "doc_id", "text")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filterNot { case (a, b) => a % 2 == 0 && b % 2 == 0 }

    assert(full.nonEmpty, "fixture should contain near-dups")
    assert(incr == expected,
      s"missing=${(expected -- incr).mkString(",")} extra=${(incr -- expected).mkString(",")}")
    // and no history-internal pair leaks through
    assert(incr.forall { case (a, b) => a % 2 == 1 || b % 2 == 1 })
  }

  test("splitLeakage reports exactly the pairs straddling splits, with both sides") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.8), (5L, 6L, 0.7))
      .toDF("id_a", "id_b", "jaccard")
    val splits = Seq((1L, "train"), (2L, "val"), (3L, "train"), (4L, "train"),
      (5L, "test"), (6L, "train")).toDF("doc_id", "split")
    val out = Dedup.splitLeakage(pairs, splits)
      .orderBy("id_a")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).toSeq
    // (3,4) is train-train → clean; the two cross-split pairs surface
    assert(out == Seq((1L, 2L, "train", "val"), (5L, 6L, "test", "train")))
  }

  test("nearDupSurvivors keeps the highest-rank member per cluster, ties to min id") {
    import spark.implicits._
    // components: {1,2,3} via (1,2),(2,3) — transitive; {7,8}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val docs = Seq((1L, 10), (2L, 50), (3L, 50), (7L, 5), (8L, 9), (9L, 999))
      .toDF("doc_id", "n_chars") // doc 9 is in no pair → no cluster row
    val out = Dedup.nearDupSurvivors(pairs, docs, "doc_id", "n_chars")
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // cluster 1: rank-50 tie between 2 and 3 → min id 2; cluster 7: 8 (9 > 5)
    assert(out == Seq((1L, 2L, 3L), (7L, 8L, 2L)))
  }

  test("semanticDedup: within-cell components collapse; cross-cell pairs are never compared") {
    import spark.implicits._
    // seeds (2 smallest ids) define the cells; 3,4 cluster with seed 1,
    // 5 with seed 2; 6/7 are a near-identical pair STRADDLING the cell
    // boundary — the documented recall trade: never compared, both live
    val vecs = Seq(
      (1L, Array(1.00f, 0.00f, 0f, 0f)),
      (2L, Array(0.00f, 1.00f, 0f, 0f)),
      (3L, Array(0.99f, 0.01f, 0f, 0f)),
      (4L, Array(0.98f, 0.02f, 0f, 0f)),
      (5L, Array(0.03f, 0.97f, 0f, 0f)),
      (6L, Array(0.71f, 0.70f, 0f, 0f)),
      (7L, Array(0.70f, 0.71f, 0f, 0f))).toDF("id", "v")
    val cents = Similarity.centroids(vecs, "id", "v", c = 2)

    val pairs = Dedup.semanticNearDupPairs(vecs, "id", "v", cents, threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L), (1L, 4L), (3L, 4L), (2L, 5L)))
    assert(!pairs.contains((6L, 7L)), "cross-cell pair must not be compared")

    val kept = Dedup.semanticDedup(vecs, "id", "v", cents, threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 6L, 7L)) // min id per component survives

    // probes=2 blocks each vector into BOTH cells here (C=2), so the
    // boundary pair is recovered — and nothing else changes
    val pairs2 = Dedup.semanticNearDupPairs(vecs, "id", "v", cents,
      threshold = 0.9, probes = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs2 == pairs + ((6L, 7L)),
      "probes=2 must recover exactly the boundary pair")
  }

  test("semanticNearDupsIncremental equals the full within-cell pass minus history-internal pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.centroids(e, "vec_id", "embedding", c = 8)
    val full = Dedup.semanticNearDupPairs(e, "vec_id", "embedding", cents, threshold = 0.4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val history = Similarity.ivfIndex(
      e.filter(col("vec_id") < 250), "vec_id", "embedding", cents)
    val incr = Dedup.semanticNearDupsIncremental(
      e.filter(col("vec_id") >= 250), history,
      "vec_id", "embedding", cents, threshold = 0.4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val expected = full.filter { case (a, b) => a >= 250 || b >= 250 }
    assert(incr == expected,
      s"incremental diverged: missing=${expected -- incr} extra=${incr -- expected}")
    assert(incr.forall { case (a, b) => a >= 250 || b >= 250 },
      "history-internal pairs must never re-emit")
  }

  test("semanticDedup is idempotent: deduping the survivors changes nothing") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.centroids(e, "vec_id", "embedding", c = 8)
    val once = Dedup.semanticDedup(e, "vec_id", "embedding", cents, threshold = 0.45)
    val twice = Dedup.semanticDedup(once, "vec_id", "embedding", cents, threshold = 0.45)
    val a = once.select("vec_id").collect().map(_.getLong(0)).toSet
    val b = twice.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "a deduped corpus must be a fixpoint")
  }

  test("semanticDedup with a single cell equals exhaustive component dedup") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.00f, 0.00f, 0f, 0f)),
      (2L, Array(0.99f, 0.01f, 0f, 0f)),
      (3L, Array(0.00f, 1.00f, 0f, 0f)),
      (4L, Array(0.70f, 0.71f, 0f, 0f))).toDF("id", "v")
    val one = Similarity.centroids(vecs, "id", "v", c = 1)
    val kept = Dedup.semanticDedup(vecs, "id", "v", one, threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    // C=1 blocks nothing: only (1,2) clears cos >= 0.9 → 2 drops
    assert(kept == Set(1L, 3L, 4L))
  }

  test("lshParamsFor: divisor pairs, S-curve optimality vs independent integration, monotone in t") {
    // independent error measure: trapezoid rule at a DIFFERENT (finer)
    // step than the implementation's midpoint 1e-3
    def errRef(b: Int, r: Int, t: Double): Double = {
      val step = 1e-4
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
      var fp = 0.0; var fn = 0.0; var s = 0.0
      while (s < 1.0 - step / 2) {
        val mid = (p(s) + p(s + step)) / 2
        if (s + step / 2 < t) fp += mid * step else fn += (1 - mid) * step
        s += step
      }
      0.5 * fp + 0.5 * fn
    }
    for (t <- Seq(0.3, 0.5, 0.8); k <- Seq(64, 128)) {
      val (b, r) = Dedup.lshParamsFor(t, k)
      assert(b * r == k && b >= 1 && r >= 1, s"($b,$r) not a divisor pair of $k")
      // chosen pair is within integration slack of the independent optimum
      val best = (1 to k).filter(k % _ == 0).map(bb => errRef(bb, k / bb, t)).min
      assert(errRef(b, r, t) <= best + 1e-3,
        s"t=$t k=$k: chose ($b,$r) err=${errRef(b, r, t)} vs best $best")
    }
    // higher thresholds want more rows per band (steeper S-curve, later rise)
    val r03 = Dedup.lshParamsFor(0.3, 128)._2
    val r08 = Dedup.lshParamsFor(0.8, 128)._2
    assert(r08 > r03, s"rows should grow with threshold: r(0.3)=$r03 r(0.8)=$r08")
    // the default q81 configuration (k=128, bands=32 → r=4) is what the
    // tuner picks around its implied threshold (1/32)^(1/4) ≈ 0.42
    assert(Dedup.lshParamsFor(0.42, 128) == ((32, 4)))
  }

  test("ngramNovelty: copies score 0, originals 1, remixes in between") {
    import spark.implicits._
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // doc 3 = an exact copy of doc 1; doc 4 = a remix (first 8-gram of a,
    // then b's tail — no new 8-gram of ITS own beyond the splice seams)
    val docs = Seq((1L, a), (2L, b), (3L, a),
      (4L, a.split(" ").take(8).mkString(" ") + " " + b))
      .toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(docs, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L)._3 == 1.0, s"first occurrence is fully novel: ${got(1L)}")
    assert(got(2L)._3 == 1.0)
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0,
      s"an exact later copy contributes nothing: ${got(3L)}")
    assert(got(4L)._3 > 0.0 && got(4L)._3 < 1.0,
      s"a remix of earlier text sits strictly between: ${got(4L)}")
    // counts are per-doc DISTINCT shingles
    assert(got(1L)._1 == 5L, s"12 tokens -> 5 distinct 8-gram starts: ${got(1L)}")
  }

  test("ngramNoveltyIncremental: advance == full rebuild side-filtered; min-merge idempotent") {
    import spark.implicits._
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq((1L, a), (2L, b),
      (3L, a),                                             // batch copy of history
      (4L, a.split(" ").take(8).mkString(" ") + " " + b),  // batch remix
      (5L, "brand new words entirely unseen before in any earlier document here"))
      .toDF("doc_id", "text")
    val store = Dedup.noveltyStore(docs.filter(col("doc_id") <= 2), "doc_id", "text", w = 8)
    val (newStore, adv) = Dedup.ngramNoveltyIncremental(
      store, docs.filter(col("doc_id") >= 3), "doc_id", "text", w = 8)
    val want = Dedup.ngramNovelty(docs, "doc_id", "text", w = 8)
      .filter(col("doc_id") >= 3).orderBy("doc_id").collect().toSeq
    assert(adv.orderBy("doc_id").collect().toSeq == want,
      "advance must equal the full rebuild on the batch")
    // the advanced store IS the full-corpus store (min-merge exact)
    val full = Dedup.noveltyStore(docs, "doc_id", "text", w = 8)
      .orderBy("__h").collect().toSeq
    assert(newStore.orderBy("__h").collect().toSeq == full)
    // replaying the same batch is a no-op on the store and on the scores
    val (replayStore, replay) = Dedup.ngramNoveltyIncremental(
      newStore, docs.filter(col("doc_id") >= 3), "doc_id", "text", w = 8)
    assert(replayStore.orderBy("__h").collect().toSeq == full)
    assert(replay.orderBy("doc_id").collect().toSeq == want)
  }

  test("ngramNoveltyIncremental: checkMonotoneIds rejects a batch id below history") {
    import spark.implicits._
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((5L, a), (6L, a + " more")).toDF("doc_id", "text")
    val store = Dedup.noveltyStore(docs, "doc_id", "text", w = 8)
    // a LATE batch carrying an id smaller than a stored first-owner would
    // steal ownership under min-merge; the opt-in guard must reject it
    val late = Seq((2L, "totally fresh text never before seen anywhere at all today"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramNoveltyIncremental(store, late, "doc_id", "text", w = 8,
        checkMonotoneIds = true)
    }
    assert(e.getMessage.contains("monotone"))
    // a properly monotone batch passes the guard and scores normally
    val ok = Seq((7L, "totally fresh text never before seen anywhere at all today"))
      .toDF("doc_id", "text")
    val (_, adv) = Dedup.ngramNoveltyIncremental(store, ok, "doc_id", "text",
      w = 8, checkMonotoneIds = true)
    assert(adv.count() == 1L)
  }

  test("nearDupContainment: classifies duplicate / a_in_b / b_in_a / overlap with exact intersection recovery") {
    import spark.implicits._
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val big = words("w", 20)                                // 18 shingles (w=3)
    val excerpt = big.split(" ").take(14).mkString(" ")     // 12 shingles, all in big
    val e = words("w", 16) + " " + words("x", 4)            // 18 shingles
    val f = words("w", 16) + " " + words("y", 4)            // 18, shares 14 with e
    val docs = Seq(
      (1L, excerpt), (2L, big),       // a_in_b: cont_a = 1.0, J = 12/18
      (3L, big),                      // duplicate of 2 (J = 1)
      (10L, e), (11L, f))             // overlap: cont = 14/18 < 0.9, J = 14/22
      .toDF("doc_id", "text")
    val got = Dedup.nearDupContainment(docs, "doc_id", "text",
        k = 128, bands = 32, w = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(7),
          if (r.isNullAt(8)) -1L else r.getLong(8))).toMap
    assert(got((1L, 2L)) == ((12L, 18L, "a_in_b", 1L)), s"got ${got.get((1L, 2L))}")
    assert(got((1L, 3L)) == ((12L, 18L, "a_in_b", 1L)))
    assert(got((2L, 3L)) == ((18L, 18L, "duplicate", 3L)),
      "identical docs drop the larger id (keep-first)")
    assert(got((10L, 11L))._3 == "overlap")
    assert(got((10L, 11L))._4 == -1L, "overlap recommends no drop")
    // intersection recovery from (rounded J, sizes) is exact here:
    // containment_a of the excerpt is exactly 1.0
    val row12 = Dedup.nearDupContainment(docs, "doc_id", "text",
        k = 128, bands = 32, w = 3, threshold = 0.5)
      .filter(col("id_a") === 1L && col("id_b") === 2L).head()
    assert(row12.getDouble(5) == 1.0 && math.abs(row12.getDouble(6) - 0.6667) < 1e-9)
  }

  test("evalLeakage: burned eval doc scores 1.0, fresh doc 0.0; train side never broadcasts text") {
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val train = Seq((1L, base), (2L, base + " thirteen fourteen")).toDF("doc_id", "text")
    val evalD = Seq(
      (100L, base),                                                        // fully in train
      (101L, "totally novel words that appear nowhere in the training corpus at all"))
      .toDF("doc_id", "text")
    val got = Dedup.evalLeakage(evalD, train, "doc_id", "text", w = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == Seq((100L, 1.0), (101L, 0.0)), s"got $got")
  }

  test("dedupSavings: keep-first drops non-label members, per-source chars accounted") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, txt, "a", 50L), (2L, txt, "a", 60L),        // dup pair: 2 dropped
      (3L, "completely different words here nothing shared at all between these",
        "a", 40L),
      (4L, txt + " x", "b", 70L))                      // near-dup of 1: dropped
      .toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.dedupSavings(docs, "doc_id", "text", "source", "n_chars",
        k = 128, bands = 32, w = 3, threshold = 0.5)
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // cluster {1,2,4} labels to 1: doc 2 (a) and doc 4 (b) drop
    assert(got == Seq(("a", 3L, 1L, 150L, 60L), ("b", 1L, 1L, 70L, 70L)),
      s"got $got")
  }

  test("dupClusterHistogram: inconsistent totalDocs fails loudly") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusterHistogram(pairs, totalDocs = 2L) // 3 docs are clustered
    }
    assert(e.getMessage.contains("smaller than"))
  }

  test("dupClusterHistogram: sizes, singleton fill, and doc-mass conservation") {
    import spark.implicits._
    // components: {1,2,3} (a chain) and {10,11}; corpus of 10 docs
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusterHistogram(pairs, totalDocs = 10L)
      .orderBy("cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 5L, 5L), (2L, 1L, 2L), (3L, 1L, 3L)), s"got $got")
    assert(got.map(_._3).sum == 10L, "doc mass must sum to the corpus")
    // empty pair graph: everything is a singleton
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val lone = Dedup.dupClusterHistogram(empty, totalDocs = 3L).collect()
    assert(lone.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
  }

  test("crossSourceDupMatrix: attributes near-dup mass to unordered source pairs") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, txt, "crawlA"), (2L, txt, "crawlB"),       // cross-source dup
      (3L, txt + " x", "crawlB"),                      // near-dup of both
      (4L, "completely different words here nothing shared at all between these", "crawlC"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(docs, "doc_id", "text", "source",
        threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.contains(("crawlA", "crawlB")), s"cross-source cell missing: $got")
    assert(got(("crawlA", "crawlB")) == 2L, s"pairs (1,2) and (1,3): $got")
    assert(got.getOrElse(("crawlB", "crawlB"), 0L) == 1L,
      s"within-source pair (2,3) lands on the diagonal: $got")
    assert(!got.keys.exists { case (a, b) => a > b }, "cells are unordered (a <= b)")
  }

  test("thresholdSensitivity: hand-checked grid rows; zero-survivor thresholds keep a row") {
    import spark.implicits._
    // A=B identical (j=1.0); D/E share 3 of 5 distinct w=3 shingles
    // (inter 3, union 5 → j=0.6); C disjoint from everything
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "zz yy xx ww vv uu tt ss"),
      (4L, "t1 t2 t3 t4 t5 t6"), (5L, "t2 t3 t4 t5 t6 t7"))
      .toDF("doc_id", "text")
    val got = Dedup.thresholdSensitivity(docs, "doc_id", "text",
        thresholds = Seq(0.5, 0.7, 0.99))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (0.5, 2L, 4L, Some(0.8)),    // (1,2)@1.0 + (4,5)@0.6, docs {1,2,4,5}
      (0.7, 1L, 2L, Some(1.0)),    // only the identical pair survives
      (0.99, 1L, 2L, Some(1.0))), s"got ${got.toSeq}")
    // a grid entirely above every pair still yields rows, with NULL mean
    val none = Dedup.thresholdSensitivity(
      docs.filter(col("doc_id") >= 3L), "doc_id", "text", thresholds = Seq(0.9))
      .collect()
    assert(none.length == 1 && none(0).getLong(1) == 0L && none(0).isNullAt(3))
  }
}
