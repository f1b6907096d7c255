package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Barrier, Fence}

/** End-to-end training-corpus cleaning pipeline — the composite operator a
  * 100 TB LLM-data run would execute (north-star EXTENSION; the
  * reference's own pipeline is the ETL chain in graft.Pipeline, cf.
  * `scripts/...pyspark.py:82-138`), built entirely from the engine's
  * distributed pieces:
  *
  *   annotate (token/quality/language, map-only)
  *     → filter (quality + language + length gates, map-only)
  *     → exact dedup on the order-sensitive fingerprint (one hash
  *       exchange, which the keep-min window reuses)
  *     → MinHash-LSH near-dup removal (signature → band join → verify)
  *
  * Every gate filter sits on a [[graft.Fence]] ([[gate]]) whose child
  * computes all the columns the gate reads (THE GATE RULE, in Fence's
  * doc), so each text kernel under a gate runs once per row.
  *
  * Scale shape (measured; see SCALE.md): annotation and gating are
  * map-only; the shuffles are the fingerprint exchange, the LSH band
  * join and candidate re-attach joins, and the final anti-join — each
  * carries ids/keys only, never document payloads. No driver-side data
  * movement. Calling [[clean]] runs the jobs of the stages below its
  * shared barrier (the fingerprint exchange and the window over it);
  * the near-dup stages run when the result is executed.
  */
object CorpusPipeline {

  final case class Config(
      minTokens: Int = 10,
      minQuality: Double = 0.3,
      langs: Seq[String] = Seq("en", "es", "fr", "de", "zh"),
      nearDupThreshold: Double = 0.8,
      // when set, shingles in >= this many docs are treated as corpus
      // boilerplate and excluded from near-dup similarity (one extra
      // aggregate; see Dedup.hotShingles)
      stopShingleMinDf: Option[Long] = None)

  /** Returns the cleaned corpus: survivors of all gates + both dedup
    * stages, with the annotation columns retained for downstream
    * sampling/mixing decisions.
    *
    * Intermediates are shared through a [[graft.Barrier]] (no
    * result-stage job and no CacheManager pin at call time; see its doc
    * for the executor-loss trade-off). The upstream stage it plans at
    * the call is the fingerprint exchange, with annotation and gating on
    * its map side.
    */
  def clean(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      cfg: Config = Config()): DataFrame =
    dedup(gated(docs, textCol, cfg), idCol, textCol, cfg)

  /** annotate → fence → the quality, language and length gates, with
    * `extra` (a row-local conjunct over columns computed below the
    * fence) filtered in the same pass. Shared with the streaming twin.
    */
  private[graft] def gated(docs: DataFrame, textCol: String, cfg: Config,
      extra: Column = lit(true)): DataFrame =
    gate(TextAnalysis.annotate(docs, textCol), "gates",
      col("n_tokens") >= cfg.minTokens &&
        col("quality") >= cfg.minQuality &&
        col("lang_pred").isin(cfg.langs: _*) && extra)

  /** Exact then near-dup removal over the gated frame.
    *
    * THE PARTITION FLOOR. The gated frame is hash-partitioned on
    * `fingerprint` to the session's shuffle-partition count before the
    * keep-min window, which reuses that exchange (no shuffle is added).
    * A plain window exchange is one AQE coalesces by bytes: when the
    * gated corpus is under the advisory partition size (1 MB by
    * default), it collapses to ONE partition, and the barrier over it —
    * and so the CPU-bound MinHash signature, banding and verify stages
    * that read the barrier — runs on one core. A repartition to an explicit
    * count is not coalesced. At lake scale the exchange is far larger
    * than partitions × advisory size, AQE would not coalesce it either,
    * and the floor changes nothing.
    */
  private def dedup(gatedDocs: DataFrame, idCol: String, textCol: String,
      cfg: Config): DataFrame = {
    val floor = gatedDocs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Lazily block-shared: the near-dup stage scans this frame twice
    // (signature branch + the keep side of the anti-join); without the
    // sharing the annotate+window chain runs twice per materialization.
    val exactDeduped = Barrier(Dedup.exactKeepMin(
        gatedDocs.repartition(floor, col("fingerprint")), Seq("fingerprint"), idCol),
      "CorpusPipeline.exactDeduped")
    val stopShingles = cfg.stopShingleMinDf
      .map(minDf => Dedup.hotShingles(exactDeduped, textCol, minDf = minDf))
      .getOrElse(Array.empty[Long])
    Dedup.minHashDedup(exactDeduped, idCol, textCol,
      threshold = cfg.nearDupThreshold, excludeShingles = stopShingles)
  }

  /** [[prepare]]'s frame before dedup: every document that passes all
    * of its gates, scrubbed and annotated.
    */
  private[graft] def admitted(docs: DataFrame, textCol: String, cfg: Config,
      maxRepetition: Double, htmlInput: Boolean, blocklist: Seq[String]): DataFrame = {
    val textual = if (htmlInput) extracted(docs, textCol) else docs
    // C4's doc-level bad-words gate, right after extraction: the
    // cheapest whole-document drop runs before any annotation or
    // fingerprinting spends work on a page that cannot ship
    val allowed = unblocked(textual, textCol, blocklist)
    // the repetition ratio is computed beside the scrub and gated with
    // clean's gates: every gate is a row-local, deterministic conjunct
    val scrubbed = allowed.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      .withColumn("__rep", TextAnalysis.repetitionRatio(col(textCol)))
    gated(scrubbed, textCol, cfg, col("__rep") <= maxRepetition).drop("__rep")
  }

  /** Stage 0 of a crawl: markup → main text (map-only, HtmlText's
    * block-segmented link-density extraction); pages whose every block
    * was boilerplate vanish here, before any text gate.
    */
  private[graft] def extracted(pages: DataFrame, textCol: String): DataFrame =
    gate(pages.withColumn(textCol, HtmlText.extractText(col(textCol))),
      "html", length(col(textCol)) > 0)

  /** The doc-level bad-words gate (map-only; a no-op for an empty list).
    * The audit columns don't ride — the corpus paths return the corpus,
    * not the rejection report; run wordBlocklistGate standalone for that.
    */
  private[graft] def unblocked(df: DataFrame, textCol: String, blocklist: Seq[String]): DataFrame =
    if (blocklist.isEmpty) df
    else gate(TextAnalysis.wordBlocklistGate(df, textCol, blocklist), "blocklist", !col("blocked"))
      .drop("bad_terms", "n_bad_tokens", "blocked")

  /** `df` behind a [[graft.Fence]] named `CorpusPipeline.<stage>`,
    * filtered by `keep`: the one way a corpus gate is applied.
    */
  private[graft] def gate(df: DataFrame, stage: String, keep: Column): DataFrame =
    Fence(df, s"CorpusPipeline.$stage").filter(keep)

  /** The FULL preparation pipeline — [[clean]] plus the remaining stages
    * a corpus passes on its way to a training run:
    *
    *   word-blocklist gate (when `blocklist` is supplied — the
    *       cheapest whole-document drop, before anything else spends
    *       work on a page that cannot ship)
    *     → PII scrub (map-only regexp chain — first TEXT REWRITE, so every downstream
    *       annotation, fingerprint, and dedup decision sees the text
    *       that will actually ship; two docs differing only in PII
    *       dedupe together)
    *     → repetition gate (map-only — BEFORE dedup, so gating a
    *       cluster's would-be representative cannot discard a cluster
    *       whose other members pass the gate)
    *     → clean (annotate → gates → exact + near-dup dedup)
    *     → benchmark decontamination (when an eval set is supplied)
    *     → token-window chunking (when chunk dims are supplied;
    *       quality/language gate columns ride onto every chunk)
    *
    * Everything added over clean() is map-only except decontamination's
    * id-and-hash joins — the composite keeps clean()'s scale shape.
    * Without `chunk`, returns gated whole documents with annotation
    * columns retained — consistent with the returned text, since
    * annotation happens post-scrub. With it, returns chunk rows ready
    * for tokenization.
    */
  def prepare(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      cfg: Config = Config(),
      maxRepetition: Double = 0.9,
      evalDocs: Option[DataFrame] = None,
      chunk: Option[(Int, Int)] = None,
      splitBy: Option[(String, Seq[(String, Double)])] = None,
      htmlInput: Boolean = false,
      blocklist: Seq[String] = Nil): DataFrame = {
    val cleaned = dedup(
      admitted(docs, textCol, cfg, maxRepetition, htmlInput, blocklist), idCol, textCol, cfg)
    val decontaminated = evalDocs
      .map(e => Dedup.decontaminate(cleaned, e, idCol, textCol))
      .getOrElse(cleaned)
    val chunked = chunk match {
      case Some((size, overlap)) =>
        // the split group column must ride through chunking, or the
        // final stage would have nothing to hash; chunk already emits
        // idCol, so splitting BY document must not carry it twice
        TextAnalysis.chunk(decontaminated, idCol, textCol, size, overlap,
          carry = (Seq("lang_pred", "quality") ++ splitBy.map(_._1))
            .distinct.filterNot(_ == idCol))
      case None => decontaminated
    }
    // final stage so CHUNKS of one group can't straddle the boundary
    // either: the leakage guard applies to everything derived from a
    // group, not just whole documents
    splitBy match {
      case Some((groupCol, splits)) => ScaleOps.splitByGroup(chunked, groupCol, splits)
      case None => chunked
    }
  }
}
