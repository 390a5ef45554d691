package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{MinHashPack, ShingleHashes, SimHashPack}

/** Deduplication operators over `documents` (north-star: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the content fingerprint;
  *  - MinHash/SimHash signatures are one explode + ONE typed
  *    Aggregator column each ([[graft.functions.MinHashAgg]] /
  *    [[graft.functions.SimHashAgg]]) — map-side partial combine, one
  *    shuffle on doc_id, no per-lane codegen blowup;
  *  - LSH banding (both sketches) turns the quadratic all-pairs
  *    problem into an equi-join on (band, band_hash) — only colliding
  *    buckets pay;
  *  - exact verification (Jaccard / hamming) runs only on candidates.
  * Nothing here ever materializes all O(n²) pairs; the only
  * intentionally-bounded query is the exhaustive-pairs oracle
  * demonstrator [[jaccardPairs]], which caps the doc set. No operator
  * caches without releasing: signatures are carried through the bucket
  * explode so the self-join is over one plan (whose shuffled aggregate
  * Spark reuses via exchange reuse) instead of a cached temp.
  */
object DedupOps {

  val ShingleSize = 5

  /** Distinct character k-shingles per document as ONE array column.
    * `sequence` is guarded for texts shorter than the shingle size. */
  private val shingleArraySql: String =
    s"CASE WHEN length(text) >= $ShingleSize " +
    s"THEN array_distinct(transform(sequence(1, length(text) - ${ShingleSize - 1}), i -> substr(text, i, $ShingleSize))) " +
    "ELSE array() END"

  /** Distinct character k-shingles per document, exploded long-form.
    * Callers with corpus-wide input spread the scan first ([[Spread]]);
    * the helper itself stays partitioning-neutral because bounded
    * consumers (the q41 demonstrator's 60-doc cap) lose to the extra
    * shuffle. */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(expr(shingleArraySql)).as("shingle"))

  /** ONE corpus pass producing every sketch column the dedup family
    * consumes — (doc_id, sh, sig, simhash): the distinct shingle-hash
    * set, the k-lane MinHash signature and the 64-bit SimHash, all
    * computed in the same codegen'd scan projection. This is the frame
    * [[docSketchesFor]] persists as a catalog column table so
    * q42/q43/q70/q73 share one sketch build instead of re-shingling
    * the corpus per query — the production shape: sketch once at
    * ingest, probe everywhere. Per-sketch empty-input semantics match
    * [[minhashSignatures]] / [[simhashSignatures]]: sh/sig are null
    * for shingle-less docs, simhash is null for token-less docs. */
  def docSketches(documents: DataFrame, numHashes: Int = 32): DataFrame = {
    val s = documents.sparkSession
    MinHashPack.register(s); ShingleHashes.register(s); SimHashPack.register(s)
    documents
      .select(col("doc_id"),
        expr(s"shingle_hashes(text, $ShingleSize)").as("sh0"),
        expr("transform(regexp_extract_all(lower(text), '[a-z0-9_]+', 0), t -> xxhash64(t))").as("toks"))
      .select(col("doc_id"),
        when(size(col("sh0")) > 0, col("sh0")).as("sh"),
        expr(s"CASE WHEN size(sh0) > 0 THEN minhash_pack(sh0, $numHashes) END").as("sig"),
        expr("CASE WHEN size(toks) > 0 THEN simhash_pack(toks) END").as("simhash"))
  }

  /** The stored (doc_id, sh, sig, simhash) sketch table — one text
    * pass per corpus, ever. Every sketch consumer (the pair tables
    * below, q70's closure, q73's verification, the ingest and
    * retrieval families) scans it instead of re-shingling and
    * re-tokenizing the corpus per query (VERDICT r6: the 4× recompute
    * was ~7.8 s of the 45 s suite at sf0.1). An [[Artifacts]] table
    * keyed by the documents' identity, so later queries in the same
    * process reload it with zero text passes. */
  def docSketchesFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_sketches", Nil, Seq(documents))(docSketches(documents))

  /** Exact dedup: canonical row per content hash (min doc_id wins).
    * One shuffle on md5(text); at 100 TB the same plan with the hash
    * bucketed to storage makes re-dedup incremental. */
  def exactDedup(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp_md5"))
    documents
      .withColumn("fp_md5", md5(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("fp_md5"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Normalization-aware exact dedup — the canonicalize-before-hash
    * step real corpora need: case folding + whitespace collapse +
    * punctuation-run trimming BEFORE fingerprinting, so trivially
    * reformatted copies (double spaces, case drift, trailing
    * punctuation) collapse that byte-exact hashing misses. Same
    * one-shuffle topology as [[exactDedup]], hash over the normalized
    * form; per-doc normalization is codegen'd regex work in the scan
    * projection. */
  def normalizedDedup(documents: DataFrame): DataFrame = {
    val normalized = regexp_replace(
      regexp_replace(lower(col("text")), "[ \\t\\r\\n]+", " "),
      "[.!?,;:]+", ".")
    val w = Window.partitionBy(col("norm_fp"))
    documents
      .withColumn("norm_fp", md5(trim(normalized)))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("norm_fp"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL exact dedup — the corpus-building form: a new batch
    * arrives and must be deduplicated against the EXISTING corpus
    * without rescanning it for pairwise work. One anti-join of the
    * batch's content hashes against the corpus hash set (plus an
    * in-batch min-id collapse): at 100 TB the corpus side is its
    * stored fingerprint column (hash-bucketed, so the anti-join is
    * shuffle-free against the layout), never the text. Returns the
    * batch rows that survive. */
  /** The stored exact-dedup identity as a TABLE: one row per distinct
    * content fingerprint with its min-id keeper — the probe side for
    * [[incrementalExactDedup]]-style batch checks and the
    * cross-batch dup accounting in
    * [[CorpusOps.corpusCardIncremental]]. Corpus-distinct-sized; at
    * scale it persists bucketed on fp_md5 so batch probes are
    * co-located joins. */
  def fingerprintStore(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("fp_md5"))
      .agg(min(col("doc_id")).as("keeper_id"))

  /** The PERSISTED per-document fingerprint column (doc_id, fp_md5) —
    * the stored-artifact form of "never re-hash stored text" that the
    * takedown fold-outs (q273/q287) and the keeper store both read:
    * one md5 pass over the corpus per version, ever (r19, the
    * [[docSketchesFor]] posture). md5 is a pure per-row function ⇒ stored
    * ≡ inline — asserted in ArtifactsSpec and by the consumers'
    * oracles. */
  def docFingerprintsFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_fps", Nil, Seq(documents))(
      documents.select(col("doc_id"), md5(col("text")).as("fp_md5")))

  /** [[fingerprintStore]] derived from a stored per-doc fingerprint
    * frame instead of a text re-hash — the same keeper rollup over
    * the same values. */
  def fingerprintStoreFromFps(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp_md5")).agg(min(col("doc_id")).as("keeper_id"))

  def incrementalExactDedup(existing: DataFrame, batch: DataFrame): DataFrame = {
    val seen = existing.select(md5(col("text")).as("fp_md5")).distinct()
    batch
      .withColumn("fp_md5", md5(col("text")))
      .withColumn("keeper", min(col("doc_id")).over(Window.partitionBy(col("fp_md5"))))
      .filter(col("doc_id") === col("keeper"))
      .join(seen, Seq("fp_md5"), "left_anti")
      .select(col("doc_id"), col("fp_md5"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Exhaustive n-gram Jaccard similarity on a bounded doc subset —
    * the oracle-checkable ground truth for the LSH path. Joins on
    * shingle, so only co-occurring shingles pay; the doc_id cap keeps
    * the demonstrator O(60²) at any scale factor. The shingle set is
    * recomputed per use instead of cached — it is bounded by the cap,
    * and leaving no resident cache behind matters more in a long-lived
    * session than the rescan. */
  def jaccardPairs(documents: DataFrame, maxDocId: Long = 60, threshold: Double = 0.15): DataFrame = {
    val sh = shingles(documents.filter(col("doc_id") < maxDocId))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a").join(sh.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_i").withColumnRenamed("n_sh", "n_i"), "doc_i")
      .join(sizes.withColumnRenamed("doc_id", "doc_j").withColumnRenamed("n_sh", "n_j"), "doc_j")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_i") + col("n_j") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_i"), col("doc_j"), col("common"), col("jaccard"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Exact-Jaccard truth pairs on the 500-doc calibration sample —
    * the ground-truth half of q159's banding sweep
    * ([[lshTuningReportFromTruth]]), stored because it depends only on
    * the sample, never on a banding config: a re-tune re-runs just the
    * sample-bounded banded self-joins against these pairs. Keyed by
    * the documents' identity. */
  def calibrationTruthFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_cal_truth", Nil, Seq(documents))(
      jaccardPairs(documents, maxDocId = 500, threshold = 0.5)
        .select(col("doc_i"), col("doc_j")))

  /** Asymmetric CONTAINMENT pairs — the sub-document duplication
    * signal Jaccard misses: a short doc quoted whole inside a long
    * one has low resemblance (|∩|/|∪| diluted by the long doc) but
    * containment |∩|/|A| ≈ 1 from the short side. Emits both
    * directions per pair; the gate is max(c_i, c_j), catching
    * quote/excerpt relations in either direction.
    *
    * Scale lever: the DF CAP on shingles (the sparse-cosine/q160
    * bound, applied to 5-gram postings) — a shingle with df docs
    * contributes df² join rows, so pruning df > `dfCap` bounds the
    * self-join at dfCap × |postings| with no doc-subset cap; sizes
    * are computed over the SAME pruned space so both containments
    * stay consistent ratios in it (boilerplate shingles carry no
    * containment signal — they are everywhere by definition). */
  def containmentPairs(documents: DataFrame, dfCap: Long = 30,
                       threshold: Double = 0.5): DataFrame = {
    // checkpointed: the df rollup AND the prune join both read the
    // shingle set — without the cut the per-char extraction runs twice.
    // Spread first: corpus-wide input, and the extraction is the CPU
    // center (Spread scaladoc; measured 0.66x at sf0.1)
    val sh = shingles(Spread.byKey(
        documents.select(col("doc_id"), col("text")), col("doc_id")))
      .localCheckpoint(false)
    val rare = sh.join(
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("shingle")),
        Seq("shingle"))
      .localCheckpoint(false) // sizes rollup + both join sides
    val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = rare.as("a").join(rare.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_i").withColumnRenamed("n_sh", "n_i"), "doc_i")
      .join(sizes.withColumnRenamed("doc_id", "doc_j").withColumnRenamed("n_sh", "n_j"), "doc_j")
      .withColumn("containment_i", col("common").cast("double") / col("n_i"))
      .withColumn("containment_j", col("common").cast("double") / col("n_j"))
      .filter(greatest(col("containment_i"), col("containment_j")) >= threshold)
      .select(col("doc_i"), col("doc_j"), col("common").cast("long").as("common"),
        col("containment_i"), col("containment_j"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** DF-capped exact-Jaccard pairs over the WHOLE corpus — the
    * id-uncapped complement of [[jaccardPairs]]: instead of bounding
    * the demonstrator by doc id, bound the self-join by shingle
    * document frequency (the [[containmentPairs]] lever — a shingle
    * with df docs contributes df² join rows, so df ≤ `dfCap` bounds
    * the join at dfCap·|postings| with no doc subset). Sizes are
    * computed over the SAME pruned shingle space, so the Jaccard is
    * exact IN that space (boilerplate shingles carry no resemblance
    * signal). Feeds q231's cross-boundary and batch-internal edge
    * sets. */
  def jaccardPairsDfCapped(documents: DataFrame, dfCap: Long = 30,
                           threshold: Double = 0.15): DataFrame = {
    // corpus-wide input: spread the extraction (see containmentPairs)
    val sh = shingles(Spread.byKey(
        documents.select(col("doc_id"), col("text")), col("doc_id")))
      .localCheckpoint(false)
    val rare = sh.join(
        sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("shingle")),
        Seq("shingle"))
      .localCheckpoint(false) // sizes rollup + both join sides
    val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    rare.as("a").join(rare.as("b"), col("a.shingle") === col("b.shingle"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_i").withColumnRenamed("n_sh", "n_i"), "doc_i")
      .join(sizes.withColumnRenamed("doc_id", "doc_j").withColumnRenamed("n_sh", "n_j"), "doc_j")
      .withColumn("jaccard", col("common").cast("double") /
        (col("n_i") + col("n_j") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_i"), col("doc_j"), col("jaccard"))
  }

  /** The stored [[jaccardPairsDfCapped]] pairs — q231's edge source.
    * The pair set is a corpus artifact (it changes when the corpus
    * does, not per query), so the incremental-split run reads stored
    * pairs and pays only the condensed closure and the split algebra.
    * Keyed by the documents' identity. */
  def dfCappedJaccardPairsFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_dfcap_pairs", Nil, Seq(documents))(jaccardPairsDfCapped(documents))

  /** MinHash signatures: k pseudo-random permutations folded per-row
    * by the codegen'd [[MinHashPack]] expression over the document's
    * distinct-shingle hash array — no explode, no aggregate, no
    * shuffle (same lanes as the round-2 typed Aggregator,
    * equivalence-tested in TextDedupSpec). Output column `sig` is the
    * k-element array. Shingle-less documents are dropped, matching the
    * explode-form semantics where they produced no group. */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 32): DataFrame = {
    MinHashPack.register(documents.sparkSession)
    ShingleHashes.register(documents.sparkSession)
    // shingle-less guard on the RAW text (the q102/q103 pushdown
    // lesson): `size(sh_hashes) > 0` after the projection re-derives
    // shingle_hashes inside the pushed filter — the whole text pass,
    // twice. A document has a shingle iff it has >= ShingleSize chars.
    documents
      .filter(length(col("text")) >= ShingleSize)
      .select(col("doc_id"),
        expr(s"shingle_hashes(text, $ShingleSize)").as("sh_hashes"))
      .select(col("doc_id"), expr(s"minhash_pack(sh_hashes, $numHashes)").as("sig"))
  }

  /** LSH banding calibration report — the measurement that picks
    * `bands` for the MinHash banding instead of guessing: for each
    * candidate config (bands b, width 32/b over the same stored
    * 32-lane signatures), the candidate-pair count, the hit count
    * against the exact-Jaccard ground truth, and the recall/precision
    * that trade off as bands widen. More bands → higher recall (more
    * chances for one full band to agree) at the cost of coarser
    * buckets → more false candidates to verify; this report turns
    * that curve into numbers BEFORE committing a 100 TB
    * pair-generation run.
    *
    * Bands bucket by CONTENT (the lane values joined as a string),
    * not by hash — identical candidate sets to the hashed production
    * path (the hash only compacts keys) and bit-replayable in any
    * engine. `truthPairs` is the exact shingle-Jaccard pair set over
    * a bounded doc_id sample (`maxDocId`; [[calibrationTruthFor]]):
    * the truth is a property of the calibration SAMPLE, not of any
    * banding config, so a tuning sweep computes it once per corpus
    * refresh and every re-tune reads the stored pairs — only the
    * banded self-joins (cheap, sample-bounded) re-run per config. The
    * banded self-join is restricted to the same sample so
    * recall/precision are like-for-like. Output is |configs| rows. */
  def lshTuningReportFromTruth(signatures: DataFrame, truthPairs: DataFrame,
                               bandCounts: Seq[Int] = Seq(4, 8, 16),
                               maxDocId: Long = 500): DataFrame = {
    val spark = signatures.sparkSession
    import spark.implicits._
    val sigs = signatures.filter(col("sig").isNotNull && col("doc_id") < maxDocId)
      .select(col("doc_id"), col("sig"))
    val truth = truthPairs
      .select(col("doc_i"), col("doc_j"))
      .localCheckpoint(false) // feeds the count AND every config's hit join
    val cands = bandCounts.map { b =>
      val w = 32 / b
      val banded = sigs.select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, ${b - 1}), bi -> struct(bi AS band,
             |concat_ws(',', transform(slice(sig, bi*$w+1, $w),
             |                         x -> cast(x AS string))) AS key))""".stripMargin))
          .as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .distinct()
        .withColumn("bands", lit(b.toLong))
    }.reduce(_ unionByName _)
      .localCheckpoint(false) // candidate counts + hit counts both read it
    val cfg = bandCounts.map(b => (b.toLong, (32 / b).toLong)).toDF("bands", "width")
    val nCand = cands.groupBy(col("bands")).agg(count(lit(1)).cast("long").as("n_candidates"))
    val nHit = cands.join(truth, Seq("doc_i", "doc_j"))
      .groupBy(col("bands")).agg(count(lit(1)).cast("long").as("n_hit"))
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    cfg.join(nCand, Seq("bands"), "left_outer")
      .join(nHit, Seq("bands"), "left_outer")
      .crossJoin(broadcast(nTruth))
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall", when(col("n_truth") > 0,
        col("n_hit").cast("double") / col("n_truth")))
      .withColumn("precision", when(col("n_candidates") > 0,
        col("n_hit").cast("double") / col("n_candidates")))
      .select(col("bands"), col("width"), col("n_candidates"), col("n_truth"),
              col("n_hit"), col("recall"), col("precision"))
      .orderBy(col("bands"))
  }

  /** LSH banding over array signatures: each band of `rowsPerBand`
    * consecutive MinHash lanes hashes to one (band, bh) bucket; docs
    * sharing any bucket become candidates. With J ≈ pairwise Jaccard,
    * P(candidate) = 1-(1-J^r)^b — tuned so dissimilar pairs almost
    * never collide, keeping the bucket join linear-ish in n. */
  private def bandBuckets(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bh"))
    }
    signatures
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Degenerate-bucket guard for LSH self-joins. A bucket with m
    * members yields m² candidate pairs; a content flood (thousands of
    * near-identical boilerplate/templated docs sharing every band)
    * turns the linear-ish bucket join quadratic. Buckets above
    * `maxBucket` are dropped from pair generation, bounding worst-case
    * join cost at maxBucket² per bucket. The recall cost is real for
    * templated near-dups that exact dedup does NOT collapse (distinct
    * bytes, same bands) — the drop is silent in the pair path by
    * design (surfacing counts there would force an extra action per
    * run), so operators size the cap from the bucket-size histogram of
    * the stored sketches. One count-aggregate over the bucket keys;
    * the filter prunes both sides before the join. */
  private def boundBuckets(buckets: DataFrame, maxBucket: Int): DataFrame = {
    val sizes = buckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("bh"))
    buckets.join(sizes, Seq("band", "bh"))
  }

  /** MinHash+LSH near-dup pairs: banded candidates → signature-
    * estimated Jaccard, over PREBUILT signatures (the stored sketch
    * table's `sig` column — composed pipelines feed one shared frame
    * instead of re-scanning the corpus per sketch). The signatures
    * feed BOTH sides of the bucket self-join, so they must be a
    * materialized frame, never a per-side re-pack of every document
    * (AQE plans the sides independently, so exchange reuse alone does
    * not dedupe them). The chain is deterministic (XXH64 shingles,
    * splitmix64 lanes), so since r7 the DuckDB oracle reproduces it
    * bit-exact; TextDedupSpec checks recall on injected near-dups. */
  private[graft] def minhashPairsFromSigs(sigs: DataFrame, numHashes: Int = 32,
                                          bands: Int = 8, rowsPerBand: Int = 4,
                                          maxBucket: Int = 10000): DataFrame = {
    val buckets = boundBuckets(bandBuckets(sigs, bands, rowsPerBand), maxBucket)
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_i", "doc_j")
      .withColumn("n_eq",
        expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"))
      .withColumn("est_jaccard", col("n_eq").cast("double") / numHashes)
      .select(col("doc_i"), col("doc_j"), col("est_jaccard"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** The stored [[minhashPairsFromSigs]] pairs over the stored
    * sketches — q42's output, persisted so q70's edge union and q73's
    * verification start from the stored pair set instead of re-running
    * the banded self-join. In a production pipeline the candidate/edge
    * list IS a materialized artifact of the sketch refresh (it is what
    * the curation jobs consume); its size is bounded by the
    * degenerate-bucket cap, never O(n²). Keyed by the documents'
    * identity. */
  def minhashPairsFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_mh_pairs", Nil, Seq(documents))(
      minhashPairsFromSigs(docSketchesFor(documents).filter(col("sig").isNotNull)
        .select(col("doc_id"), col("sig"))))

  /** Incremental NEAR-dedup — the crawl-ingest shape: drop new-batch
    * documents that are near-duplicates of the EXISTING corpus
    * without re-clustering history. The new batch's signatures
    * band-join the stored corpus signatures (`storedSigs`, the
    * [[docSketchesFor]] table: sketches computed at ingest, never
    * re-derived; `newSigs` the incoming batch's), candidates verify on
    * estimated Jaccard, and every new doc reports how many stored docs
    * it duplicates plus its keep/drop flag. Complements q92's EXACT
    * incremental dedup: this catches reformatted/near copies the byte
    * hash misses. The join is new×stored on (band, hash) — never
    * history×history, so cost scales with the batch, not the corpus;
    * at 100 TB the stored band table is bucketed on (band, bh) and
    * the join is shuffle-free against the layout. Both sides carry
    * the [[boundBuckets]] degenerate-bucket cap — a boilerplate flood
    * in HISTORY would otherwise make one hot (band, bh) bucket join
    * every matching new doc against all of history, which is exactly
    * the blowup the cap exists to bound in the self-join path.
    * Deterministic chain → the DuckDB oracle replays it (q109). */
  private[graft] def incrementalNearDedupFromSigs(
      newIds: DataFrame, newSigs: DataFrame, storedSigs: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 32,
      bands: Int = 8, rowsPerBand: Int = 4, maxBucket: Int = 10000): DataFrame = {
    val nb = boundBuckets(bandBuckets(newSigs, bands, rowsPerBand), maxBucket)
      .select(col("doc_id").as("new_id"), col("sig").as("sig_n"), col("band"), col("bh"))
    val ob = boundBuckets(bandBuckets(storedSigs, bands, rowsPerBand), maxBucket)
      .select(col("doc_id").as("old_id"), col("sig").as("sig_o"), col("band"), col("bh"))
    val matches = nb.join(ob, Seq("band", "bh"))
      .select(col("new_id"), col("old_id"), col("sig_n"), col("sig_o"))
      .dropDuplicates("new_id", "old_id")
      .withColumn("n_eq",
        expr("aggregate(zip_with(sig_n, sig_o, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)"))
      .withColumn("est", col("n_eq").cast("double") / numHashes)
      .filter(col("est") >= threshold)
      .groupBy(col("new_id"))
      .agg(countDistinct(col("old_id")).as("n_dup_of"))
    newIds
      .join(matches, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), coalesce(col("n_dup_of"), lit(0L)).as("n_dup_of"))
      .withColumn("kept", col("n_dup_of") === 0)
      .orderBy(col("doc_id"))
  }

  /** Exact-verified near-dup pairs — the production shape: LSH
    * candidates (the stored [[minhashPairsFor]] pairs, i.e. q42's
    * output) carry only an ESTIMATED Jaccard; this joins each
    * candidate pair back to the two documents' distinct-shingle sets
    * (the stored sketches' `sh` column) and computes the exact
    * Jaccard, keeping pairs at or above `threshold`. Exact similarity
    * is computed for candidate pairs ONLY — never all pairs — so the
    * cost is bounded by the (LSH-pruned) candidate count regardless of
    * corpus size. Shingle sets are the [[ShingleHashes]] 64-bit hash
    * sets (the string form costs ~10× in array building; set Jaccard
    * is identical absent an xxhash64 collision, which already bounds
    * the candidate generation). Values match [[jaccardPairs]] exactly
    * on shared pairs (TextDedupSpec); the r7 oracle reproduces the
    * candidate chain.
    *
    * The estimate prefilter before the exact verification joins is
    * free (the estimates are stored): pairs estimated far below
    * threshold skip the O(|sh_i|+|sh_j|) exact intersection. The 0.25
    * margin is > 4 standard deviations of the 32-lane estimator at the
    * boundary (miss probability ~3e-4 for a true-threshold pair — two
    * orders below the banding's own miss rate), and degrades to no
    * filter at all for low thresholds. The stored `est_jaccard` is the
    * raw m/numHashes — a dyadic rational for the power-of-two lane
    * counts used here, exactly representable in binary, so the
    * prefilter comparison is bit-exact. */
  def verifiedJaccardPairsFromShared(sketches: DataFrame, estPairs: DataFrame,
                                     threshold: Double = 0.5): DataFrame = {
    val estPrefilter = math.max(0.0, threshold - 0.25)
    // the pair table feeds three consumers (both doc-id projections of
    // the prune + the verification join) — checkpoint the tiny
    // filtered set once
    val cands = estPairs.filter(col("est_jaccard") >= estPrefilter)
      .select(col("doc_i"), col("doc_j"))
      .localCheckpoint(false)
    // prune the sketch table to DOCS THAT APPEAR IN A CANDIDATE PAIR
    // before touching the heavy shingle-set column twice: the
    // candidate set is band/bucket-cap bounded, so the checkpoint
    // (feeding both verification join sides) materializes a
    // candidate-sized frame instead of the corpus-sized sketch table.
    // Local wall time is unchanged at sf0.1 (the corpus's shingle
    // volume is ~12 MB — fixed job overhead dominates); the prune is
    // for the 100 TB shape, where sh is the table's dominant column
    // and non-candidate docs are the overwhelming majority
    val candDocs = cands.select(col("doc_i").as("doc_id"))
      .union(cands.select(col("doc_j").as("doc_id"))).distinct()
    // the stored sketch table is a single file locally, so the scan —
    // and the array_intersect verification stacked on it — planned as
    // ONE serial task (Profile r19: q73 wall ≈ summed task time);
    // Spread hash-repartitions the sh scan to the session's
    // parallelism, a no-op on multi-split cluster layouts (§2.5)
    val shArr = Spread.byKey(
        sketches.filter(col("sh").isNotNull).select(col("doc_id"), col("sh")),
        col("doc_id"))
      .join(candDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    verifyCandidates(shArr, cands, threshold)
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * per-doc distinct-shingle hash sets. */
  private def verifyCandidates(shArr: DataFrame, cands: DataFrame,
                               threshold: Double): DataFrame = {
    cands
      .join(shArr.select(col("doc_id").as("doc_i"), col("sh").as("sh_i")), "doc_i")
      .join(shArr.select(col("doc_id").as("doc_j"), col("sh").as("sh_j")), "doc_j")
      .withColumn("inter", size(array_intersect(col("sh_i"), col("sh_j"))).cast("long"))
      .withColumn("uni",
        (size(col("sh_i")) + size(col("sh_j"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_i"), col("doc_j"), col("jaccard"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** SimHash: 64-bit signature from per-token hash bit votes. A
    * document's tokens already live in one row, so the whole signature
    * is per-row expression work: tokenize → xxhash64 each token inside
    * a higher-order `transform` → fold the votes with the codegen'd
    * [[SimHashPack]] expression. No explode, no aggregate, no shuffle —
    * a pure scan projection (round 2's explode + typed-Aggregator plan
    * pushed one row per token through an ExpressionEncoder and cost
    * 20 s at sf0.1; same votes, same packing, same signatures).
    * Token-less documents are dropped, matching the explode-form
    * semantics where they produced no group. */
  def simhashSignatures(documents: DataFrame): DataFrame = {
    SimHashPack.register(documents.sparkSession)
    // token-less guard on the RAW text: a pushed size(toks) > 0
    // re-derives the regexp+hash transform inside the filter
    // (q102/q103 pushdown lesson). The token regex matches iff the
    // text has an alphanumeric/underscore char.
    documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"),
        expr("transform(regexp_extract_all(lower(text), '[a-z0-9_]+', 0), t -> xxhash64(t))").as("toks"))
      .select(col("doc_id"), expr("simhash_pack(toks)").as("simhash"))
  }

  /** Contiguous-chunk band buckets of a 64-bit simhash column:
    * (doc_id, simhash, band, bh). */
  private def simhashBandBuckets(sigs: DataFrame, bands: Int): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftrightunsigned(simhash, ${b * width}) & $mask").as("bh"))
    }
    sigs
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** SimHash near-dup pairs via prefix-band bucketing over PREBUILT
    * signatures — the same LSH trick as MinHash, applied to
    * contiguous chunks of the 64-bit signature. Pigeonhole guarantee:
    * any pair within hamming distance `bands - 1` agrees exactly on
    * at least one chunk, so for maxHamming <= bands - 1 recall is
    * EXACT while the join stays an equi-join on (band, chunk) — no
    * all-pairs cross product, no doc cap, scale-safe (bucket width
    * 64/bands bits; widen bands only as ln(n) grows). Replaces round
    * 1's doc_id<60-capped cartesian self-join. The exactness guarantee
    * is qualified only by the [[boundBuckets]] degenerate-bucket guard
    * (default 10k members), which drops identical-content flood
    * buckets that exact dedup collapses anyway. */
  private[graft] def simhashPairsFromSigs(sigs: DataFrame, bands: Int = 4,
                                          maxHamming: Int = 3,
                                          maxBucket: Int = 10000): DataFrame = {
    require(maxHamming <= bands - 1,
      s"banding guarantees exact recall only for maxHamming <= bands-1 (got $maxHamming, $bands)")
    val buckets = boundBuckets(simhashBandBuckets(sigs, bands), maxBucket)
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
              col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .dropDuplicates("doc_i", "doc_j")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_i"), col("doc_j"), col("hamming"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** The stored [[simhashPairsFromSigs]] pairs over the stored
    * sketches — q43's output, persisted for q70's edge union. Keyed
    * by the documents' identity. */
  def simhashPairsFor(documents: DataFrame): DataFrame =
    Artifacts.table("doc_sim_pairs", Nil, Seq(documents))(
      simhashPairsFromSigs(docSketchesFor(documents).filter(col("simhash").isNotNull)
        .select(col("doc_id"), col("simhash"))))

  /** Connected components over candidate-pair edges by iterative
    * min-label propagation with pointer jumping: every node starts
    * labelled with its own id; each round a node takes the minimum of
    * its label, its neighbours' labels (hook), and its label's label
    * (shortcut), so convergence is O(log diameter) rounds. The loop
    * is driver-side CONTROL only — each round is distributed joins +
    * one aggregate, never a driver-side graph. The inner loop runs on
    * co-partitioned cached RDDs (see [[ccRun]] for why Catalyst is
    * the wrong tool for this one operator).
    *
    * `nodes` must carry a unique `doc_id`; `edges` carries
    * (doc_i, doc_j). Returns (doc_id, cluster_id). Superseded label
    * snapshots are unpersisted each round; hitting `maxIter` without
    * converging THROWS rather than silently returning partial labels
    * (raise maxIter for pathologically long chains). */
  /** Lineage/fault posture for the CC loop.
    *  - [[CcCheckpoint.Local]] (default): per-round MEMORY_AND_DISK
    *    caches + a final localCheckpoint — fastest, but blocks die
    *    with their executors; right for local[] and short jobs.
    *  - [[CcCheckpoint.Reliable]]: additionally writes a RELIABLE
    *    RDD checkpoint into `dir` every `every` rounds and makes the
    *    final materialization a reliable Dataset checkpoint — the
    *    cluster posture SCALE.md names: lineage is truncated to the
    *    last checkpoint, and an executor loss replays at most `every`
    *    rounds instead of the whole loop. */
  sealed trait CcCheckpoint
  object CcCheckpoint {
    case object Local extends CcCheckpoint
    final case class Reliable(dir: String, every: Int = 5) extends CcCheckpoint {
      require(every >= 1, "checkpoint interval must be >= 1")
    }
  }

  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIter: Int = 100,
                          checkpoint: CcCheckpoint = CcCheckpoint.Local): DataFrame = {
    val (labels, _, _, sym) = ccRun(nodes, edges, maxIter, checkpoint)
    sym.unpersist(blocking = false)
    labels
  }

  /** [[connectedComponents]] with a SMALL-GRAPH fast path: when the
    * node and edge counts fit comfortably on the driver, run
    * union-find locally (min-id root, path compression — labels
    * bit-identical to min-label propagation) instead of paying the
    * RDD loop's fixed per-round machinery (~2 s of cache/shuffle
    * floor at any size). This is the right tool exactly where the
    * incremental operators (q226/q231) land by construction: their
    * CONDENSED graphs are batch + touched-groups sized — thousands
    * of nodes — while the corpus-scale closures stay on the
    * distributed path automatically (two cheap counts decide; above
    * either threshold nothing is ever collected). Edges with an
    * endpoint outside `nodes` are ignored, matching the RDD path's
    * join semantics. PropertySpec asserts equivalence against the
    * RDD path on random graphs. */
  def connectedComponentsAuto(nodes: DataFrame, edges: DataFrame,
                              smallNodes: Int = 100000, smallEdges: Int = 1000000,
                              maxIter: Int = 100,
                              checkpoint: CcCheckpoint = CcCheckpoint.Local): DataFrame = {
    val session = nodes.sparkSession
    import session.implicits._
    // size probes are limit(k+1)+collect, NOT count-then-collect OR
    // checkpoint-then-collect: one job each instead of two, the limit
    // short-circuits the scan on the large side, and the collected
    // rows ARE the fast path's working set when the graph is small
    // (≤ ~1.6 MB of ids). The fallback recomputes each frame exactly
    // once — ccRun persists its RDDs immediately — which is cheaper
    // than paying an unconditional materialization job here on the
    // (by-construction common) small path.
    val nodesM = nodes.select(col("doc_id").cast("long").as("doc_id"))
    val nodeRows = nodesM.limit(smallNodes + 1).collect()
    if (nodeRows.length > smallNodes)
      return connectedComponents(nodesM, edges, maxIter, checkpoint)
    val edgesM = edges.select(col("doc_i").cast("long"), col("doc_j").cast("long"))
    val edgeRows = edgesM.limit(smallEdges + 1).collect()
    if (edgeRows.length > smallEdges)
      return connectedComponents(nodesM, edges, maxIter, checkpoint)
    val ids = nodeRows.map(_.getLong(0))
    val parent = new java.util.HashMap[Long, Long](ids.length * 2)
    ids.foreach(id => parent.put(id, id))
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edgeRows.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      if (parent.containsKey(a) && parent.containsKey(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
    }
    ids.toSeq.map(id => (id, find(id))).toDF("doc_id", "cluster_id")
  }

  /** The iterative core, on partitioner-aware cached RDDs — the one
    * operator in the engine where the DataFrame API is the WRONG tool:
    * Catalyst re-analyzes, re-optimizes and re-plans every round,
    * cannot carry hash-partitioning knowledge across the per-round
    * localCheckpoints, and so pays a full exchange on every join of
    * every round (~0.45 s/round of pure fixed cost at sf0.1,
    * regardless of data size). The RDD form is the GraphX execution
    * model: edges and labels share ONE HashPartitioner, so the
    * edge⋈label and label⋈message joins are narrow (zero shuffle);
    * the only shuffled data per round is the aggregated min-label
    * message stream. The driver loop remains CONTROL only.
    *
    * Each round applies:
    *  - hook: l(u) ← min(l(u), min over neighbours l(v)) — one
    *    co-partitioned join + one reduceByKey;
    *  - shortcut (pointer jumping): l(u) ← min(l(u), l(l(u))) —
    *    labels are always node ids inside the same component, so the
    *    two-hop copy is safe and collapses chains geometrically:
    *    O(log diameter) rounds instead of diameter (a 101-node chain
    *    converges in 7 rounds, not 101 — PropertySpec checks the
    *    results against union-find).
    *
    * Convergence: labels only ever decrease, so the exact (BigInt,
    * overflow-free) label sum is strictly monotone while anything
    * changes; the sum is the round's ONE action and doubles as the
    * cache materializer. Lineage is truncated by caching each round
    * and unpersisting the previous one (at cluster scale swap the
    * final cache for a reliable checkpoint, as before).
    *
    * Returns (labels, rounds, node count, the persisted symmetric
    * edges — 2× the input pairs; the caller unpersists them). Rounds
    * count propagation rounds to fixpoint including the one detection
    * round; ScaleSpec records them per edge set (SCALE.md) so the
    * "near-dup clusters are shallow" claim is measured. */
  private[graft] def ccRun(nodes: DataFrame, edges: DataFrame, maxIter: Int,
                    checkpoint: CcCheckpoint = CcCheckpoint.Local)
      : (DataFrame, Int, Long, org.apache.spark.rdd.RDD[(Long, Long)]) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val session = nodes.sparkSession
    val reliable: Option[CcCheckpoint.Reliable] = checkpoint match {
      case r: CcCheckpoint.Reliable =>
        if (session.sparkContext.getCheckpointDir.isEmpty)
          session.sparkContext.setCheckpointDir(r.dir)
        Some(r)
      case CcCheckpoint.Local => None
    }
    val nodeIds: RDD[Long] = nodes.select(col("doc_id").cast("long")).rdd.map(_.getLong(0))
    val part = new HashPartitioner(math.max(1, nodeIds.getNumPartitions))
    // no dedup pass on the symmetrized edges: min-label propagation is
    // idempotent over duplicate messages (min of a multiset), so a
    // repeated edge costs one extra combined message, not correctness
    // — dropping the distinct saves a full shuffle of the edge list
    val sym: RDD[(Long, Long)] = edges
      .select(col("doc_i").cast("long"), col("doc_j").cast("long")).rdd
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: RDD[(Long, Long)] = nodeIds.map(id => (id, id))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one action: materialize the round and return (row count, exact label sum)
    def stats(rdd: RDD[(Long, Long)]): (Long, BigInt) =
      rdd.aggregate((0L, BigInt(0)))(
        (acc, kv) => (acc._1 + 1, acc._2 + kv._2),
        (a, b) => (a._1 + b._1, a._2 + b._2))
    val (nNodes, sum0) = stats(labels)
    var prevSum = sum0
    var iter = 0
    var converged = nNodes == 0L // no nodes: already at fixpoint
    // Round structure, measured on the real sketch edge sets (see
    // SCALE.md): a hook is ONE shuffle (the combined min-label
    // messages), a jump is TWO (re-key by label, re-key the result),
    // so on the shallow graphs near-dup produces, two hooks per round
    // beat hook+jump (7 rounds/14 shuffles vs 10/30 at sf0.1). The
    // jump still runs every third round so a pathological chain
    // collapses geometrically — O(log diameter) worst case — instead
    // of paying its two shuffles every round.
    def hook(cur: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val nbrMin = sym.join(cur) // narrow: sym and labels share `part`
        .map { case (_, (dst, lbl)) => (dst, lbl) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      cur.leftOuterJoin(nbrMin) // narrow: both on `part`
        .mapValues { case (own, m) => math.min(own, m.getOrElse(own)) }
    }
    def jump(cur: RDD[(Long, Long)]): RDD[(Long, Long)] = {
      val msgs = cur
        .map { case (node, lbl) => (lbl, node) }
        .partitionBy(part)
        .join(cur)
        .map { case (_, (node, lblOfLbl)) => (node, lblOfLbl) }
        .partitionBy(part)
      cur.leftOuterJoin(msgs)
        .mapValues { case (own, m) => math.min(own, m.getOrElse(own)) }
    }
    while (!converged && iter < maxIter) {
      val stepped = hook(hook(labels))
      val next: RDD[(Long, Long)] =
        (if ((iter + 1) % 3 == 0) jump(stepped) else stepped)
          .persist(StorageLevel.MEMORY_AND_DISK)
      // reliable mode: mark for checkpoint BEFORE the round's action —
      // the stats() job both materializes the cache and writes the
      // checkpoint files, truncating lineage to this round
      reliable.foreach(r => if ((iter + 1) % r.every == 0) next.checkpoint())
      val (_, nextSum) = stats(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds maxIter; raise it for this edge set")
    import session.implicits._
    val outDf = labels.toDF("doc_id", "cluster_id")
    // final materialization matches the mode: executor-local blocks
    // for Local, a reliable Dataset checkpoint for Reliable
    val out =
      if (reliable.isDefined) outDf.checkpoint(eager = true)
      else outDf.localCheckpoint(true)
    labels.unpersist(blocking = false)
    (out, iter, nNodes, sym)
  }

  /** Near-dup dedup, end-to-end: candidate-pair edges → connected
    * components → canonical document (the cluster's min doc_id) per
    * cluster. Returns the deduped corpus: one row per KEPT document
    * with the number of originals it absorbed. Oracle-checkable when
    * the edge set is SQL-expressible (q61 feeds [[jaccardPairs]];
    * DuckDB reproduces the transitive closure with a recursive CTE). */
  def nearDedup(documents: DataFrame, edges: DataFrame): DataFrame =
    nearDedupFromClusters(
      connectedComponentsAuto(documents.select(col("doc_id")), edges))

  /** [[nearDedup]] over a PREBUILT cluster-label table (the
    * [[clustersFor]] catalog artifact): the closure is a corpus
    * artifact like the sketch pair sets, so every consumer that only
    * needs the labels reads ONE build per corpus — the
    * [[docSketchesFor]] lever applied to the closure itself. */
  def nearDedupFromClusters(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id").as("doc_id"), col("n_members"))
      .orderBy(col("doc_id"))

  /** Cluster-size histogram — the dedup-health view over the near-dup
    * closure (the q121 list-balance analogue for dedup): how many
    * clusters exist at each size, and how many documents they hold.
    * A healthy corpus is dominated by singletons with a thin tail; a
    * fat tail (or one giant component) means the pair threshold is
    * too loose or a template flood slipped the caps — THE number to
    * check before trusting a dedup pass. Pure rollup over a prebuilt
    * (doc_id, cluster_id) label table ([[clustersFor]] or
    * [[connectedComponentsAuto]] over any edge set); the histogram
    * frame is distinct-sizes small. */
  def clusterSizeHistogramFromClusters(clusters: DataFrame): DataFrame =
    nearDedupFromClusters(clusters)
      .groupBy(col("n_members"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("n_members"), col("n_clusters"),
        (col("n_members") * col("n_clusters")).cast("long").as("n_docs"))
      .orderBy(col("n_members"))

  /** Quality-aware canonical selection — [[nearDedup]] keeps each
    * cluster's MIN doc_id (stable, but arbitrary); this variant keeps
    * the member a curation run actually wants: the LONGEST document
    * (n_chars desc, doc_id asc tie-break — the usual "most complete
    * variant wins" policy; swap the ordering column for a quality
    * score to change policy, nothing else moves). Same distributed
    * transitive closure; the representative pick is one per-cluster
    * window (row_number over the cluster partition — scales with the
    * largest cluster, which the candidate-pair caps already bound),
    * and the metadata join on doc_id is AQE-broadcastable when the
    * cluster table is small. Reads a prebuilt label table. */
  def canonicalByQualityFromClusters(documents: DataFrame,
                                     clusters: DataFrame): DataFrame = {
    val sized = clusters
      .join(documents.select(col("doc_id"), col("n_chars")), "doc_id")
    val pick = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    sized
      .withColumn("rk", row_number().over(pick))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("n_chars"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Leakage-safe CLUSTER-AWARE train/val/test split — the q94 hash
    * split composed with the near-dup closure so duplicates can never
    * straddle splits: every member of a cluster takes the split of
    * xxhash64(cluster_id) (0-7 train, 8 val, 9 test — the same
    * growth-stable rule as the doc-hash split), which is exactly the
    * leakage q218/q122 DETECT, prevented at assignment time. `moved`
    * reports the migration accounting — docs whose cluster pinned
    * them to a different split than their own hash would have chosen
    * (the price of leakage safety, and the number to watch: a huge
    * moved share means the split is dominated by a few giant
    * clusters). Cost: the closure the dedup pass already built plus
    * two codegen'd hashes — no extra shuffle beyond the cluster
    * join. */
  def clusterAwareSplit(documents: DataFrame, edges: DataFrame): DataFrame =
    clusterAwareSplitFromClusters(
      connectedComponentsAuto(documents.select(col("doc_id")), edges))

  /** [[clusterAwareSplit]] over the prebuilt label table. */
  def clusterAwareSplitFromClusters(clusters: DataFrame): DataFrame = {
    def splitOf(bucket: org.apache.spark.sql.Column) =
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
    clusters
      .withColumn("split", splitOf(pmod(xxhash64(col("cluster_id")), lit(10))))
      .withColumn("moved",
        col("split") =!= splitOf(pmod(xxhash64(col("doc_id")), lit(10))))
      .select(col("doc_id"), col("cluster_id"), col("split"), col("moved"))
      .orderBy(col("doc_id"))
  }

  /** Stored full-corpus near-dup cluster labels (the q61
    * demonstrator closure) — a corpus artifact like the sketch pair
    * tables; consumers that only need the (doc_id, cluster_id) map
    * (q232's positive-exclusion set) share one closure per corpus.
    * An [[Artifacts]] table keyed by the documents' identity: a
    * different corpus builds its own table. */
  def clustersFor(documents: DataFrame): DataFrame =
    Artifacts.table("dedup_clusters", Nil, Seq(documents))(
      connectedComponentsAuto(documents.select(col("doc_id")),
        jaccardPairs(documents).select(col("doc_i"), col("doc_j"))))

  /** Stored [[clusterAwareSplit]] over a STORED slice — the split
    * assignment is a catalog artifact (frozen once assigned — that is
    * the whole point of the incremental form), so consumers share one
    * closure+hash build per corpus. Keyed like [[clustersFor]]; read
    * back in doc_id order, as built. */
  def clusterSplitFor(documents: DataFrame): DataFrame =
    Artifacts.table("dedup_split", Nil, Seq(documents))(
      clusterAwareSplit(documents,
        jaccardPairs(documents).select(col("doc_i"), col("doc_j"))))
      .orderBy(col("doc_id"))

  /** INCREMENTAL cluster-aware split — the growth-stability fix for
    * [[clusterAwareSplit]]: rerunning the full split after new docs
    * arrive can MOVE stored documents between train and test (a new
    * doc with a smaller id joining a cluster changes the cluster's
    * min-id, hence its hash, hence every member's split — silent
    * train/test churn as the corpus grows). Here the stored
    * assignment is FROZEN: a batch doc near-dup-connected
    * (transitively, through batch-internal edges too) to stored
    * content ADOPTS the stored cluster's split; batch-only components
    * hash fresh off their own min id, exactly the q227 rule. When one
    * batch component bridges stored clusters that were assigned
    * DIFFERENT splits, the doc adopts the minimum-id cluster's split
    * and flags `conflict` — the irreducible leakage a frozen history
    * cannot repair (the report names it instead of hiding it; the
    * remediation is dropping those docs, not reshuffling history).
    *
    * Same condensed-closure shape as [[incrementalEntityGroups]]:
    * stored clusters enter as ONE node each (their min-id label,
    * mapped from the cross edges' stored endpoints), so CC input is
    * batch + touched clusters — stored members never enter a shuffle.
    * Output is the BATCH assignment only; stored rows are immutable
    * by construction.
    *
    * CONTRACT: batch doc_ids must be disjoint from stored doc_ids and
    * cluster ids — the condensation coalesces a stored endpoint to its
    * cluster id by key lookup, so a colliding batch key would silently
    * mislabel its component. Pass `validateKeys = true` to pay one
    * eager batch-sized semi-join that fails loudly on a violation
    * (ingest assigns monotonically increasing ids, so production
    * batches satisfy the contract by construction and skip the
    * check). */
  def incrementalClusterSplit(storedAssign: DataFrame, crossEdges: DataFrame,
                              batchEdges: DataFrame, batch: DataFrame,
                              validateKeys: Boolean = false): DataFrame = {
    if (validateKeys) {
      val clash = batch.select(col("doc_id"))
        .join(storedAssign.select(col("doc_id"))
          .unionByName(storedAssign.select(col("cluster_id").as("doc_id"))).distinct(),
          Seq("doc_id"), "left_semi")
      require(clash.isEmpty,
        s"incrementalClusterSplit: batch doc_ids collide with stored " +
          s"doc/cluster ids (e.g. ${clash.limit(5).collect().mkString(", ")})")
    }
    def splitOf(bucket: org.apache.spark.sql.Column) =
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
    val memCl = storedAssign.select(col("doc_id"), col("cluster_id"))
    val condensed = crossEdges.select(col("doc_i"), col("doc_j"))
      .join(memCl.select(col("doc_id").as("doc_i"),
        col("cluster_id").as("cl_i")), Seq("doc_i"), "left_outer")
      .join(memCl.select(col("doc_id").as("doc_j"),
        col("cluster_id").as("cl_j")), Seq("doc_j"), "left_outer")
      .select(coalesce(col("cl_i"), col("doc_i")).as("doc_i"),
              coalesce(col("cl_j"), col("doc_j")).as("doc_j"))
    val clSplit = storedAssign.select(col("cluster_id"), col("split")).distinct()
      .localCheckpoint(false) // closure nodes + per-comp agg + anchor join
    // only clusters a cross edge actually touches enter the closure —
    // an untouched cluster would be an isolated node that emits no
    // batch rows, so keeping it out makes CC input batch + TOUCHED
    // clusters (never history-sized even when history is all
    // singletons); condensed endpoints < any batch id iff stored
    val condensedM = condensed.localCheckpoint(false) // touched derivation + edges
    val touchedCl = clSplit.select(col("cluster_id"))
      .join(condensedM.select(col("doc_i").as("cluster_id"))
        .unionByName(condensedM.select(col("doc_j").as("cluster_id"))).distinct(),
        Seq("cluster_id"), "left_semi")
    val nodes = touchedCl.select(col("cluster_id").as("doc_id"))
      .unionByName(batch.select(col("doc_id")))
    val comps = connectedComponentsAuto(
        nodes, condensedM.unionByName(batchEdges.select(col("doc_i"), col("doc_j"))))
      .withColumnRenamed("cluster_id", "comp_id")
      .localCheckpoint(false) // per-comp agg + the batch-row emit both read it
    val agg = comps
      .join(clSplit.withColumnRenamed("cluster_id", "doc_id"), Seq("doc_id"), "left_outer")
      .groupBy(col("comp_id"))
      .agg(min(when(col("split").isNotNull, col("doc_id"))).as("anchor_cluster"),
           countDistinct(col("split")).cast("long").as("n_splits"))
    val enriched = agg
      .join(clSplit.select(col("cluster_id").as("anchor_cluster"),
        col("split").as("stored_split")), Seq("anchor_cluster"), "left_outer")
      .withColumn("origin",
        when(col("anchor_cluster").isNotNull, "adopted").otherwise("hashed"))
      .withColumn("split", coalesce(col("stored_split"),
        splitOf(pmod(xxhash64(col("comp_id")), lit(10)))))
      .withColumn("conflict", col("n_splits") >= 2)
    comps.join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(enriched, "comp_id")
      .select(col("doc_id"),
        coalesce(col("anchor_cluster"), col("comp_id")).as("assigned_cluster"),
        col("split"), col("origin"), col("conflict"))
      .orderBy(col("doc_id"))
  }

  /** Entity resolution groups — master-data management over the part
    * dimension: the q83 blocked-Levenshtein pairs become EDGES, the
    * CC machinery closes them transitively (A≈B and B≈C group even
    * when A and C differ by 4 edits — exactly what pairwise matching
    * alone misses), and every record maps to its entity: smallest
    * member key as the stable entity id, that member's name as the
    * canonical form. The output IS the alias-resolution table a
    * pipeline joins through. Same scale posture as the text closure:
    * edges are block-bounded, clusters shallow, the canonical lookup
    * one dim-sized join. */
  def entityGroups(part: DataFrame): DataFrame = {
    val edges = TextOps.fuzzyNameMatch(part)
      .select(col("key_i").as("doc_i"), col("key_j").as("doc_j"))
    val labels = connectedComponentsAuto(
      part.select(col("p_partkey").as("doc_id")), edges)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    labels.join(sizes, "cluster_id")
      .join(part.select(col("p_partkey").as("cluster_id"),
        col("p_name").as("canonical_name")), "cluster_id")
      .select(col("doc_id").as("p_partkey"), col("cluster_id").as("entity_id"),
        col("n_members"), col("canonical_name"))
      .orderBy(col("p_partkey"))
  }

  /** Stored [[entityGroups]] — the alias table is a CATALOG
    * artifact (built once per dim refresh, read by every consumer),
    * so q222 (the table itself) and q223 (facts joined through it)
    * share ONE closure build. An [[Artifacts]] table keyed by the
    * dim's identity; read back in p_partkey order, as built. */
  def entityGroupsFor(part: DataFrame): DataFrame =
    Artifacts.table("entity_groups", Nil, Seq(part))(entityGroups(part))
      .orderBy(col("p_partkey"))

  /** ENTITY-ALIAS takedown (q276, r15 — the last store from VERDICT
    * r14 missing #1): remove dim records from the PERSISTED alias
    * table by re-closing ONLY the groups the removal touches. Dropping
    * a member can do more than shrink a group — a removed BRIDGE
    * record disconnects the transitive chain and the group SPLITS —
    * so surviving members of touched groups re-match
    * ([[graft.engine.TextOps.fuzzyNameMatch]] over just that subset:
    * pair predicates are pairwise, so subset pairs ≡ full pairs
    * restricted to the subset) and re-close; every untouched group
    * passes through verbatim. Exactness: closure groups are edge-
    * closed, so no edge ever crosses group boundaries and the
    * touched-only re-close equals a FULL rebuild over
    * part-minus-removal — which is exactly what the oracle computes
    * (two recursive closures: before, for touched detection; after,
    * for the result). Output: the post-takedown alias table with
    * `status` ∈ untouched|reclosed.
    *
    * Scale: touched groups are removal-bounded; the re-match and
    * closure run over their survivors only (never history²); the
    * stored table contributes one broadcast semi/anti probe pair. */
  def entityTakedown(part: DataFrame, removalKeys: DataFrame,
                     stored: DataFrame): DataFrame = {
    val rm = broadcast(removalKeys.select(col("p_partkey")).distinct()
      .localCheckpoint(false)) // touched probe + survivor anti-join
    val touched = stored.join(rm, Seq("p_partkey"), "left_semi")
      .select(col("entity_id")).distinct()
    val untouched = stored.join(broadcast(touched), Seq("entity_id"), "left_anti")
      .select(col("p_partkey"), col("entity_id"), col("n_members"),
        col("canonical_name"), lit("untouched").as("status"))
    val survivors = stored.join(broadcast(touched), Seq("entity_id"), "left_semi")
      .join(rm, Seq("p_partkey"), "left_anti")
      .select(col("p_partkey"))
    val subPart = part.join(broadcast(survivors), Seq("p_partkey"), "left_semi")
      .localCheckpoint(false) // edges + closure nodes + canonical lookup
    val edges = TextOps.fuzzyNameMatch(subPart)
      .select(col("key_i").as("doc_i"), col("key_j").as("doc_j"))
    val labels = connectedComponentsAuto(
      subPart.select(col("p_partkey").as("doc_id")), edges)
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    val reclosed = labels.join(sizes, "cluster_id")
      .join(subPart.select(col("p_partkey").as("cluster_id"),
        col("p_name").as("canonical_name")), "cluster_id")
      .select(col("doc_id").as("p_partkey"), col("cluster_id").as("entity_id"),
        col("n_members"), col("canonical_name"), lit("reclosed").as("status"))
    untouched.unionByName(reclosed).orderBy(col("p_partkey"))
  }

  /** INCREMENTAL entity resolution — the q92/q109 batch-vs-stored
    * pattern over the [[entityGroups]] alias store: a new batch of
    * dim records resolves against the STORED groups without ever
    * re-running stored×stored matching. Edge work is
    * batch×stored-block ([[TextOps.fuzzyNameMatchAcross]]) plus
    * batch-internal pairs; the stored grouping re-enters as STAR
    * edges (entity_id → member), which already carry its transitive
    * closure. Only groups a cross edge actually touches re-resolve —
    * every other stored row passes through verbatim with status
    * `unchanged` — so per-batch cost is ∝ batch + affected members,
    * never the history (q109 bounded the work at batch×history-block;
    * this bounds it at batch + touched-groups).
    *
    * Per record: its (possibly merged) entity, the group's member
    * count, how many STORED groups fused into it (`n_stored_groups`
    * ≥ 2 ⇒ a new alias bridged previously-separate entities — the
    * case pairwise matching alone can never close), how many batch
    * records joined, and the group status: `merged` / `new`
    * (batch-only) / `extended` (one stored group gained members) /
    * `unchanged`. Canonical form = min member key's name, exactly as
    * in the full rebuild, so output is bit-identical to re-running
    * [[entityGroups]] on stored ∪ batch with history-internal edges
    * frozen to the stored closure.
    *
    * The closure runs on the CONDENSED graph: each touched stored
    * group enters as ONE node (its entity id — already the group's
    * min member key, so min-label closure over condensed nodes yields
    * the same entity ids as member-level closure), cross edges map
    * their stored endpoint member → entity. CC input is therefore
    * batch + touched GROUPS — independent of group sizes; member-
    * level rows only reappear in the final label join.
    *
    * CONTRACT: batch p_partkeys must be disjoint from stored keys
    * (entity ids are min member keys, so stored-key disjointness
    * covers them) — the condensation coalesces by key lookup and a
    * collision silently mislabels. `validateKeys = true` pays one
    * eager batch-sized semi-join to fail loudly instead. */
  def incrementalEntityGroups(storedAliases: DataFrame, storedDim: DataFrame,
                              batch: DataFrame, maxDist: Int = 2,
                              validateKeys: Boolean = false): DataFrame = {
    if (validateKeys) {
      val clash = batch.select(col("p_partkey"))
        .join(storedAliases.select(col("p_partkey")), Seq("p_partkey"), "left_semi")
      require(clash.isEmpty,
        s"incrementalEntityGroups: batch keys collide with stored keys " +
          s"(e.g. ${clash.limit(5).collect().mkString(", ")})")
    }
    val cross = TextOps.fuzzyNameMatchAcross(batch, storedDim, maxDist)
      .select(col("key_i").as("doc_i"), col("key_j").as("doc_j"))
      .localCheckpoint(false) // touched-group derivation + closure edges
    val inBatch = TextOps.fuzzyNameMatch(batch, maxDist)
      .select(col("key_i").as("doc_i"), col("key_j").as("doc_j"))
    val storedEnt = storedAliases.select(col("p_partkey").as("doc_id"),
      col("entity_id").as("old_entity_id"))
    // ONE materialization for the touched machinery: the touched-group
    // derivation runs lazily inside `affected`'s checkpoint job, and
    // `touched` (closure nodes + the untouched anti-join's probe) is
    // re-derived as a distinct over the checkpointed member rows —
    // touched-members-sized input, so the re-derivation is free while
    // a separate touched checkpoint would cost a whole extra job
    val touchedLazy = storedEnt
      .join(cross.select(col("doc_i").as("doc_id"))
        .unionByName(cross.select(col("doc_j").as("doc_id"))).distinct(), "doc_id")
      .select(col("old_entity_id").as("entity_id")).distinct()
    val affected = storedAliases.join(touchedLazy, Seq("entity_id"), "left_semi")
      .localCheckpoint(false) // member→entity map + membership agg + label join
    val touched = affected.select(col("entity_id")).distinct()
    // condense: a cross edge's stored endpoint becomes its entity id
    // (exactly one endpoint is stored — the key spaces are disjoint).
    // The member→entity map is TOUCHED-members-bounded (∝ batch ×
    // group size, never history) — broadcast it so the condensation
    // is two map-side lookups instead of two shuffles of the edge set
    val memEnt = affected.select(col("p_partkey"), col("entity_id"))
    val crossCond = cross
      .join(broadcast(memEnt.select(col("p_partkey").as("doc_i"),
        col("entity_id").as("ent_i"))), Seq("doc_i"), "left_outer")
      .join(broadcast(memEnt.select(col("p_partkey").as("doc_j"),
        col("entity_id").as("ent_j"))), Seq("doc_j"), "left_outer")
      .select(coalesce(col("ent_i"), col("doc_i")).as("doc_i"),
              coalesce(col("ent_j"), col("doc_j")).as("doc_j"))
    val nodes = touched.select(col("entity_id").as("doc_id"))
      .unionByName(batch.select(col("p_partkey").as("doc_id")))
    val labels = connectedComponentsAuto(nodes, crossCond.unionByName(inBatch))
    val names = storedDim.select(col("p_partkey"), col("p_name"))
      .unionByName(batch.select(col("p_partkey"), col("p_name")))
    // per-cluster accounting off the condensed nodes: an entity node
    // carries its whole group's size, a batch node counts itself
    val entSizes = affected.groupBy(col("entity_id"))
      .agg(count(lit(1)).cast("long").as("grp_n"))
    val byCluster = labels
      .join(entSizes.withColumnRenamed("entity_id", "doc_id"),
        Seq("doc_id"), "left_outer")
      .groupBy(col("cluster_id"))
      .agg(sum(coalesce(col("grp_n"), lit(1L))).cast("long").as("n_members"),
           sum(when(col("grp_n").isNotNull, 1L).otherwise(0L))
             .cast("long").as("n_stored_groups"),
           sum(when(col("grp_n").isNull, 1L).otherwise(0L))
             .cast("long").as("n_batch_members"))
      .withColumn("group_status",
        when(col("n_stored_groups") >= 2, "merged")
          .when(col("n_stored_groups") === 0, "new")
          .otherwise("extended")) // touched ⇒ a batch record joined
    // expand back to member-level rows: batch keys label directly,
    // affected stored members label through their old entity's node
    val memberLabels = labels
      .join(batch.select(col("p_partkey").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("p_partkey"), col("cluster_id"))
      .unionByName(memEnt
        .join(labels.withColumnRenamed("doc_id", "entity_id"), "entity_id")
        .select(col("p_partkey"), col("cluster_id")))
    val resolved = memberLabels.join(byCluster, "cluster_id")
      .join(names.select(col("p_partkey").as("cluster_id"),
        col("p_name").as("canonical_name")), "cluster_id")
      .select(col("p_partkey"), col("cluster_id").as("entity_id"),
        col("n_members"), col("n_stored_groups"), col("n_batch_members"),
        col("group_status"), col("canonical_name"))
    val untouched = storedAliases.join(touched, Seq("entity_id"), "left_anti")
      .select(col("p_partkey"), col("entity_id"), col("n_members"),
        lit(1L).as("n_stored_groups"), lit(0L).as("n_batch_members"),
        lit("unchanged").as("group_status"), col("canonical_name"))
    resolved.unionByName(untouched).orderBy(col("p_partkey"))
  }

  /** Revenue THROUGH the alias table — [[entityGroups]] in action:
    * facts keyed by raw part ids roll up to resolved entities, so a
    * product whose records split across alias spellings reports ONE
    * revenue line (the under-counting alias fragmentation causes is
    * exactly what MDM exists to fix). Fact ⋈ alias map is an id-keyed
    * join (map is dim-sized → broadcast); the rollup shuffles on
    * entity_id. Exact DECIMAL money. */
  def entityRevenue(lineitem: DataFrame, entities: DataFrame): DataFrame = {
    val aliases = entities
      .select(col("p_partkey").as("l_partkey"), col("entity_id"),
        col("n_members"), col("canonical_name"))
    lineitem.select(col("l_partkey"), col("l_extendedprice"))
      .join(broadcast(aliases), "l_partkey")
      .groupBy(col("entity_id"), col("canonical_name"), col("n_members"))
      .agg(count(lit(1)).cast("long").as("n_items"),
           Exact.decSum(col("l_extendedprice")).as("total_amount"))
      .select(col("entity_id"), col("canonical_name"),
        col("n_members"), col("n_items"), col("total_amount"))
      .orderBy(col("entity_id"))
  }

  /** Duplication-aware training weights — the soft alternative to
    * dropping near-dups: every doc is KEPT but its loss weight is
    * 1/cluster_size (ppm-quantized integer), so a passage that
    * appears five times contributes the same total gradient mass as
    * one that appears once (the down-weighting used when dedup recall
    * is imperfect or duplicates carry provenance worth keeping).
    * Σ weight over a cluster ≤ 10⁶ with equality only when the
    * cluster size divides 10⁶ — floor-division is the deterministic
    * choice, asserted in the spec. One cluster-sized rollup over a
    * prebuilt label table, broadcast back onto the membership table. */
  def dupTrainingWeightsFromClusters(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_members"))
    clusters.join(sizes, "cluster_id")
      .withColumn("weight_ppm", expr("1000000 DIV n_members"))
      .select(col("doc_id"), col("cluster_id"), col("n_members"), col("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  /** [[nearDedup]] over the PREBUILT per-sketch pair sets (the stored
    * [[minhashPairsFor]] / [[simhashPairsFor]] tables — q42's and
    * q43's outputs): the merged-bucket join's per-collision
    * acceptance is exactly "either sketch admits the pair"
    * (equivalence to [[nearDedupSketchFromSketches]] asserted in
    * TextDedupSpec), so with both pair sets already materialized the
    * query reduces to a filter + union + distinct + connected
    * components. The est_jaccard filter on the stored column is exact
    * — see [[verifiedJaccardPairsFromShared]]'s dyadic-rational
    * note. */
  def nearDedupFromPairSets(documents: DataFrame, mhPairs: DataFrame, shPairs: DataFrame,
                            minEstJaccard: Double = 0.5, maxHamming: Int = 3): DataFrame = {
    val edges = mhPairs.filter(col("est_jaccard") >= minEstJaccard)
      .select(col("doc_i"), col("doc_j"))
      .unionByName(shPairs.filter(col("hamming") <= maxHamming)
        .select(col("doc_i"), col("doc_j")))
      .distinct()
    nearDedup(documents, edges)
  }

  /** The production near-dedup pipeline: sketch-based candidate edges
    * (MinHash-LSH estimated Jaccard ∪ SimHash hamming ball,
    * [[sketchEdgesFromSketches]]), clustered and collapsed by
    * [[nearDedup]], over a PREBUILT sketch frame (the
    * [[docSketchesFor]] table): both sketch columns come from ONE
    * document pass, so the pipeline starts at the bucket join — zero
    * text passes in the query itself (VERDICT r4: the
    * compose-of-publics form paid two full text passes). Per-sketch
    * empty-input semantics are preserved: a doc too short to shingle
    * still simhashes if it has tokens, and vice versa. Deterministic
    * sketches ⇒ the r7 oracle reproduces both chains; recall on
    * injected near-dups is asserted in TextDedupSpec. */
  def nearDedupSketchFromSketches(documents: DataFrame, sketches: DataFrame,
                                  minEstJaccard: Double = 0.5,
                                  maxHamming: Int = 3, numHashes: Int = 32): DataFrame =
    nearDedup(documents,
      sketchEdgesFromSketches(sketches, minEstJaccard, maxHamming, numHashes))

  /** The PRODUCTION near-dup edge generator on its own — the banded
    * merged-bucket join of [[nearDedupSketchFromSketches]] without the
    * closure, for consumers that compose edges differently (the
    * [[CorpusOps.curationFunnel]] production path takes this frame
    * where the oracle demonstrator takes [[jaccardPairs]]). Both
    * sketches' buckets go through one join, so every side reads the
    * one (stored) sketch frame. */
  def sketchEdgesFromSketches(sketches: DataFrame,
                              minEstJaccard: Double = 0.5,
                              maxHamming: Int = 3, numHashes: Int = 32): DataFrame = {
    require(maxHamming <= 3, "4 simhash bands guarantee exact recall only for maxHamming <= 3")
    // ONE self-join for BOTH sketches: the two bucket spaces are
    // disjoint band ranges (minhash bands 0..7, simhash bands 100+),
    // so their union goes through one degenerate-bucket guard, one
    // equi-join and one distinct instead of two of each — halving the
    // pair-generation shuffles. Per-sketch acceptance (estimated
    // Jaccard vs hamming ball) is applied per collision row before the
    // distinct, so a pair qualifies if EITHER sketch admits it —
    // identical semantics to unioning the two standalone pair sets.
    val mhB = bandBuckets(
        sketches.filter(col("sig").isNotNull).select(col("doc_id"), col("sig")),
        bands = 8, rowsPerBand = 4)
      .select(col("doc_id"), col("band"), col("bh"),
              col("sig"), lit(null).cast("bigint").as("simhash"))
    val shB = simhashBandBuckets(
        sketches.filter(col("simhash").isNotNull).select(col("doc_id"), col("simhash")),
        bands = 4)
      .select(col("doc_id"), (col("band") + 100).as("band"), col("bh"),
              lit(null).cast("array<bigint>").as("sig"), col("simhash"))
    val bounded = boundBuckets(mhB.unionByName(shB), maxBucket = 10000)
    val aSide = bounded.select(col("doc_id").as("doc_i"), col("band"), col("bh"),
                               col("sig").as("sig_a"), col("simhash").as("sim_a"))
    val bSide = bounded.select(col("doc_id").as("doc_j"), col("band"), col("bh"),
                               col("sig").as("sig_b"), col("simhash").as("sim_b"))
    aSide.join(bSide, Seq("band", "bh"))
      .filter(col("doc_i") < col("doc_j"))
      .filter(when(col("band") < 100,
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            .cast("double") / numHashes >= minEstJaccard)
        .otherwise(
          bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming))
      .select(col("doc_i"), col("doc_j"))
      .distinct()
  }
}
