package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star): media as opaque binary
  * columns with typed metadata, processed by batched per-partition
  * functions.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic STUB (see [[decodeStub]]) — what is
  * real and tested is the Spark-side shape of the pipeline: binary
  * column + metadata struct schema, partition-preserving batched
  * processing via `mapPartitions` over a typed Dataset (the Scala
  * analogue of arrow-batched pandas UDFs), and a fixed-width feature
  * array output ready for [[SimilarityOps]].
  */
object MultimodalOps {

  /** A media record: opaque payload + typed metadata. */
  final case class MediaRecord(
      media_id: Long, payload: Array[Byte], mime: String,
      source: String, n_bytes: Long)

  final case class MediaFeatures(
      media_id: Long, n_bytes: Long, first_byte: Long,
      content_hash: Long, features: Array[Double])

  /** Build the media table from `documents`, treating the UTF-8 text
    * payload as the opaque blob (stand-in for image/audio bytes). */
  def mediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("text/plain").as("mime"),
      col("source"),
      octet_length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))

  /** Metadata projection — the oracle-checkable part (no decode). */
  def mediaMeta(documents: DataFrame): DataFrame =
    mediaTable(documents)
      .select(col("media_id"), col("mime"), col("source"), col("n_bytes"))
      .orderBy(col("media_id"))

  /** STUB DECODE — stands in for image decode / audio resample /
    * frame sampling, which need codecs absent from this environment.
    * Deterministic fake: features derived from payload bytes. The
    * real-world swap-in is a partition-batched codec call with the
    * exact same signature (Iterator[MediaRecord] => Iterator[MediaFeatures]),
    * preserving partitioning and batch amortization. */
  def decodeStub(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      // One "codec init" per partition, amortized across the batch —
      // the property that matters at scale.
      batch.map { rec =>
        var h = 1469598103934665603L // FNV-1a offset basis
        var i = 0
        while (i < rec.payload.length) {
          h = (h ^ (rec.payload(i) & 0xffL)) * 1099511628211L
          i += 1
        }
        val feats = Array.tabulate(4) { d =>
          ((h >>> (d * 16)) & 0xffffL).toDouble / 65535.0
        }
        MediaFeatures(
          rec.media_id, rec.n_bytes,
          if (rec.payload.nonEmpty) (rec.payload(0) & 0xffL) else -1L,
          h, feats)
      }
    }
  }

  /** Frame sampling — the video-pipeline shape: every `step`-th
    * fixed-length window of the payload becomes one "frame" row with
    * its content fingerprint (stand-in for a decoded video frame; with
    * codecs, the same explode shape emits decoded frames). Pure
    * per-row generate + scalar work, no shuffle; one row per sampled
    * frame. Oracle-expressible because the fingerprint is md5 of a
    * substring of the (text stand-in) payload. */
  def frameSample(documents: DataFrame, frameLen: Int = 64, step: Int = 128): DataFrame =
    documents
      .select(col("doc_id").as("media_id"), col("text"))
      .withColumn("n_frames",
        when(length(col("text")) >= frameLen,
          ((length(col("text")) - frameLen) / step + 1).cast("long"))
          .otherwise(lit(0L)))
      .filter(col("n_frames") > 0)
      .select(col("media_id"), col("text"), col("n_frames"),
        explode(expr(s"sequence(0, n_frames - 1)")).as("frame_idx"))
      .withColumn("frame_idx", col("frame_idx").cast("long"))
      .withColumn("frame_fp",
        md5(expr(s"substr(text, CAST(frame_idx * $step + 1 AS INT), $frameLen)")))
      .select(col("media_id"), col("frame_idx"), col("n_frames"), col("frame_fp"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** Cross-media duplicate frames — stock-footage / shared-intro
    * detection: any frame fingerprint appearing in ≥2 distinct media
    * is re-used material (the media-payload analogue of
    * [[graft.engine.TextOps.sentenceDedup]]'s cross-doc sentences).
    * Rides [[frameSample]]'s explode (per-row generate, no shuffle)
    * into ONE fingerprint-keyed rollup; output is duplicate-rate-
    * sized. With real codecs the fp becomes the q151 pHash and the
    * rollup gains a Hamming band — the plan shape is unchanged. */
  def crossMediaDupFrames(documents: DataFrame, frameLen: Int = 64,
                          step: Int = 128): DataFrame =
    frameSample(documents, frameLen, step)
      .groupBy(col("frame_fp"))
      .agg(countDistinct(col("media_id")).cast("long").as("n_media"),
           count(lit(1)).cast("long").as("n_occurrences"),
           min(col("media_id")).cast("long").as("first_media"),
           max(col("media_id")).cast("long").as("last_media"))
      .filter(col("n_media") >= 2)
      .orderBy(col("frame_fp"))

  /** Media similarity — the SemDeDup-for-images composition: opaque
    * payloads → partition-batched (stub) feature extraction → exact
    * cosine top-k over the extracted vectors. The decode output is
    * handed to [[SimilarityOps]] through its (vec_id, embedding)
    * input contract, so a real codec swaps into [[decodeStub]] and
    * NOTHING downstream changes — the image-dedup / image-search
    * path at 100 TB is this exact plan with LSH/IVF in place of the
    * brute-force scorer. The FNV stub is deterministic, so the r7
    * oracle reproduces decode + top-k end-to-end; injected-duplicate
    * behavior is asserted in SimilarityMultimodalSpec. */
  def mediaAnnTopK(documents: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val media = mediaTable(documents).as[MediaRecord]
    val emb = decodeStub(media)
      .select(col("media_id").as("vec_id"),
        expr("transform(features, x -> CAST(x AS FLOAT))").as("embedding"))
    SimilarityOps.cosineTopK(emb, nQueries, k)
  }

  /** CROSS-MODAL alignment scores (q261) — the CLIP-score filter
    * shape every multimodal training pipeline runs before training:
    * each document's CAPTION embedding (here: the decode stub over
    * the first `captionChars` characters — the caption stand-in; a
    * real pipeline swaps in the text-tower encoder) is paired with
    * its MEDIA embedding (the q95 contract: the decode stub over the
    * full payload; a real pipeline swaps in the image tower), and the
    * pair's cosine decides whether caption and media actually
    * describe the same thing. Per-row map-only work joined on
    * media_id — one batch-sized equi-join, no fanout; with real
    * towers the plan is unchanged (two encode passes + one join).
    * Documents no longer than the caption prefix embed identically on
    * both sides (cosine exactly 1 — always aligned), keeping both
    * branches of the gate live on any corpus. Deterministic stub ⇒
    * the whole chain (both FNV folds, both feature vectors, the
    * cosine and the gate) replays in the oracle (q49/q95 machinery). */
  def crossModalScores(documents: DataFrame, captionChars: Int = 64,
                       threshold: Double = 0.9): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val mediaF = decodeStub(mediaTable(documents).as[MediaRecord])
      .select(col("media_id"), col("features").as("mf"))
    val capF = decodeStub(mediaTable(
        documents.withColumn("text", expr(s"substr(text, 1, $captionChars)")))
      .as[MediaRecord])
      .select(col("media_id"), col("features").as("cf"))
    def dot(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    documents.select(col("doc_id").as("media_id"), col("source"))
      .join(mediaF, "media_id").join(capF, "media_id")
      .withColumn("d_mc", dot("mf", "cf"))
      .withColumn("n_m", sqrt(dot("mf", "mf")))
      .withColumn("n_c", sqrt(dot("cf", "cf")))
      // multiplicative gate: no division, so a (theoretical)
      // zero-norm feature vector drops instead of NaN-ing
      .withColumn("aligned",
        col("d_mc") > lit(threshold) * col("n_m") * col("n_c"))
      .select(col("media_id"), col("source"), col("aligned"))
  }

  /** CROSS-MODAL alignment GATE accounting (q261) — the q116/q258
    * conservation pattern over [[crossModalScores]]: every document
    * lands in exactly one source row as aligned or dropped, so
    * Σ n_docs equals the corpus count (asserted in
    * SimilarityMultimodalSpec). One scan of each feature frame, one
    * rollup — source-count-sized output at any corpus scale. */
  def crossModalAlignmentGate(documents: DataFrame, captionChars: Int = 64,
                              threshold: Double = 0.9): DataFrame =
    crossModalScores(documents, captionChars, threshold)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
           sum(when(col("aligned"), 1L).otherwise(0L)).cast("long").as("n_aligned"),
           sum(when(col("aligned"), 0L).otherwise(1L)).cast("long").as("n_dropped"))
      .orderBy(col("source"))

  /** CROSS-MODAL retrieval eval (q263) — the text→media search
    * fidelity report paired data buys for free: each query document's
    * CAPTION embedding searches the MEDIA embedding space, and the
    * rank of its OWN media (the ground-truth pair) among all
    * candidates is the retrieval quality per query — recall@k is
    * `pair_rank <= k` read straight off the report. Plan: the caption
    * side is nQueries rows (broadcast), media features are one
    * map-only encode pass, the fanout is candidates × nQueries
    * collapsed by a per-query window — [[SimilarityOps.cosineTopK]]'s
    * audited shape with the query set swapped for the other modality.
    * Scores use the fold/division forms the q95 oracle proved
    * bit-identical to DuckDB's list_inner_product. Pure-integer
    * output: (qid, pair_rank, n_candidates). */
  def crossModalRetrieval(documents: DataFrame, nQueries: Int = 5,
                          captionChars: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    def dot(a: String, b: String) = expr(
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
    val mediaF = decodeStub(mediaTable(documents).as[MediaRecord])
      .select(col("media_id"), col("features").as("mf"))
      .withColumn("n_m", sqrt(dot("mf", "mf")))
    val capF = decodeStub(mediaTable(
        documents.filter(col("doc_id") < nQueries)
          .withColumn("text", expr(s"substr(text, 1, $captionChars)")))
      .as[MediaRecord])
      .select(col("media_id").as("qid"), col("features").as("cf"))
      .withColumn("n_c", sqrt(dot("cf", "cf")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("media_id"))
    mediaF.crossJoin(broadcast(capF))
      .withColumn("score", dot("cf", "mf") / (col("n_c") * col("n_m")))
      .withColumn("pair_rank", row_number().over(w).cast("long"))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("qid"))).cast("long"))
      .filter(col("media_id") === col("qid"))
      .select(col("qid"), col("pair_rank"), col("n_candidates"))
      .orderBy(col("qid"))
  }

  /** PERCEPTUAL-HASH STUB — the pHash shape without codecs. A real
    * pHash grayscales + DCTs the image and takes sign bits of the
    * low-frequency coefficients against their median; the stand-in
    * splits the payload into 64 contiguous byte windows and sets bit
    * d iff window d's mean byte value exceeds the whole payload's
    * mean — local energy vs global energy, which preserves the
    * property that matters: a small payload edit perturbs few
    * windows, so near-duplicate payloads land at small Hamming
    * distance (asserted on injected near-dups in
    * SimilarityMultimodalSpec). The comparison is exact integer
    * cross-multiplication (sum_d × n > total × len_d) — no doubles,
    * so any engine replays it bit-exactly; the products stay inside
    * Long for payloads < ~190 MB (255·n² < 2⁶³). Same
    * partition-batched typed contract as [[decodeStub]]: a codec
    * swap-in replaces the window fold with DCT output and nothing
    * downstream changes. Empty payloads drop (no signal, matching
    * simhash's token-less-doc semantics). */
  def phashStub(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.flatMap { rec =>
        val n = rec.payload.length
        if (n == 0) None
        else {
          var total = 0L
          var i = 0
          while (i < n) { total += (rec.payload(i) & 0xff); i += 1 }
          var h = 0L
          var d = 0
          while (d < 64) {
            val lo = (d.toLong * n / 64).toInt
            val hi = ((d + 1).toLong * n / 64).toInt
            if (hi > lo) {
              var s = 0L
              var j = lo
              while (j < hi) { s += (rec.payload(j) & 0xff); j += 1 }
              if (s * n > total * (hi - lo)) h |= (1L << d)
            }
            d += 1
          }
          Some((rec.media_id, h))
        }
      }
    }.toDF("media_id", "phash")
  }

  /** Media near-duplicate pairs: perceptual hashes → the SimHash
    * prefix-band machinery ([[DedupOps.simhashPairsFromSigs]]) — the
    * same pigeonhole guarantee (exact recall for
    * maxHamming ≤ bands−1), the same equi-join-on-(band, chunk)
    * scale posture, the same degenerate-bucket cap; only the
    * signature source differs (payload windows instead of token
    * votes). This is the image/audio near-dedup path at 100 TB:
    * fingerprints computed once at decode, banded self-join over the
    * stored signature table, never payload×payload. */
  def mediaNearDupPairs(documents: DataFrame, bands: Int = 8, maxHamming: Int = 7,
                        maxBucket: Int = 10000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val sigs = phashStub(mediaTable(documents).as[MediaRecord])
      .select(col("media_id").as("doc_id"), col("phash").as("simhash"))
      .localCheckpoint(false)
    DedupOps.simhashPairsFromSigs(sigs, bands, maxHamming, maxBucket)
      .select(col("doc_i").as("media_i"), col("doc_j").as("media_j"), col("hamming"))
      .orderBy(col("media_i"), col("media_j"))
  }

  /** End-to-end media pipeline: table → typed records → batched
    * decode → flat feature columns. */
  def decodeFeatures(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val media = mediaTable(documents).as[MediaRecord]
    decodeStub(media)
      .select(col("media_id"), col("n_bytes"), col("first_byte"), col("content_hash"),
        col("features").getItem(0).as("f0"), col("features").getItem(1).as("f1"),
        col("features").getItem(2).as("f2"), col("features").getItem(3).as("f3"))
      .orderBy(col("media_id"))
  }
}
