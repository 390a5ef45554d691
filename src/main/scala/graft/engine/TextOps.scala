package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{AhoCorasick, RollingHash}

/** Text-analysis operators over the `documents` table (north-star:
  * language-ID, quality scoring, token counting, fingerprinting).
  * Everything is per-row expression work — embarrassingly parallel, no
  * shuffle, fully inside whole-stage codegen. Regex classes are spelled
  * as explicit ASCII ranges so Java regex (Spark) and RE2 (typical
  * oracle engines) agree.
  */
object TextOps {

  private[graft] val tokenRe = "[A-Za-z0-9_]+"

  /** The BPE-ish subword-piece unit ([[tokenEstimate]]'s n_pieces):
    * letter runs, single digits, single non-space punctuation. ONE
    * definition — the packing operators ([[CorpusOps.packSequences]]
    * and friends), the streaming packer's test feed, and every q66/
    * q103/q105/q107 oracle must agree on it byte for byte. */
  val pieceRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  /** Token counting + character-class statistics. */
  def textStats(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).cast("long"))
      .withColumn("n_alnum", length(regexp_replace(col("text"), "[^A-Za-z0-9_]", "")).cast("long"))
      .withColumn("n_spaces", (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0, col("n_alnum").cast("double") / col("n_tokens")).otherwise(0.0))
      .withColumn("space_ratio",
        when(col("n_chars") > 0, col("n_spaces").cast("double") / col("n_chars")).otherwise(0.0))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("n_alnum"),
              col("avg_token_len"), col("space_ratio"))
      .orderBy(col("doc_id"))

  /** Stopword-count language heuristic: count marker stopwords per
    * language, argmax with a fixed preference order for ties. A crude
    * but deterministic n-gram-family classifier — the engine pattern
    * (per-row scoring, no shuffle) is what scales; swap the marker
    * lists for real models without touching the plan. */
  def langId(documents: DataFrame): DataFrame =
    langSignals(documents)
      .select(col("doc_id"), col("n_en"), col("n_de"), col("n_fr"), col("n_es"), col("lang_guess"))
      .orderBy(col("doc_id"))

  /** The stopword-hit projection + argmax guess behind [[langId]] and
    * [[langAgreementMatrix]] — one definition so the per-doc view and
    * the audit matrix can never disagree on the classifier. */
  private def langSignals(documents: DataFrame): DataFrame = {
    def hits(pat: String) =
      size(expr(s"regexp_extract_all(lower(text), '\\\\b($pat)\\\\b', 0)")).cast("long")
    documents
      .withColumn("n_en", hits("the|and|of|to|in"))
      .withColumn("n_de", hits("der|die|und|das|ein"))
      .withColumn("n_fr", hits("le|la|les|et|un"))
      .withColumn("n_es", hits("el|los|las|y|una"))
      .withColumn("lang_guess",
        when(col("n_en") >= col("n_de") && col("n_en") >= col("n_fr") && col("n_en") >= col("n_es"), "en")
          .when(col("n_de") >= col("n_fr") && col("n_de") >= col("n_es"), "de")
          .when(col("n_fr") >= col("n_es"), "fr")
          .otherwise("es"))
  }

  /** Language agreement matrix — the metadata-vs-content audit: how
    * often the DECLARED language of a document agrees with the
    * n-gram classifier's guess, as a (lang, lang_guess) contingency
    * table with per-declared-language shares. Off-diagonal mass
    * either flags mislabeled metadata (common in scraped corpora) or
    * calibrates the classifier — both gate a mixing design keyed on
    * `lang`. One scan (the signals projection aggregates directly,
    * no join back to the per-doc view); the share window runs over
    * the langs×langs matrix frame. */
  def langAgreementMatrix(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langSignals(documents)
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_frac", (col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.partitionBy(col("lang")))))
      .orderBy(col("lang"), col("lang_guess"))
  }

  /** Cohen's kappa per source between the DECLARED language and the
    * classifier's guess — [[langAgreementMatrix]] summarized into the
    * chance-corrected agreement statistic label-quality work actually
    * reports: raw agreement po = D/N flatters any skewed label
    * distribution (guess "en" everywhere and po is already the en
    * share); kappa subtracts the agreement the marginals produce by
    * chance, pe = Σ_k row_k·col_k / N². Kept fully rational so both
    * engines replay it bit-exactly:
    * kappa = (po−pe)/(1−pe) = (D·N − S) / (N² − S) with
    * S = Σ_k row_k·col_k — integer numerator and denominator, emitted
    * as truncating-division ppm (Spark `div` and DuckDB `//` both
    * truncate toward zero, negatives included, so a worse-than-chance
    * rater ports too). Degenerate marginals (N² = S, pe = 1) emit
    * NULL — kappa is undefined there by definition.
    *
    * Scale: ONE corpus scan into a (source, lang, guess) rollup;
    * everything after runs on that sources×langs² frame (marginal
    * products via a full outer join so a label missing on either side
    * contributes zero). */
  def raterKappa(documents: DataFrame): DataFrame = {
    val cells = langSignals(documents)
      .groupBy(col("source"), col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // four consumers of a matrix-sized frame
    val n = cells.groupBy(col("source")).agg(sum(col("n")).as("n_docs"))
    val d = cells.filter(col("lang") === col("lang_guess"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_agree"))
    val rowsM = cells.groupBy(col("source"), col("lang"))
      .agg(sum(col("n")).as("rk"))
    val colsM = cells.groupBy(col("source"), col("lang_guess").as("lang"))
      .agg(sum(col("n")).as("ck"))
    val s = rowsM.join(colsM, Seq("source", "lang"), "full")
      .select(col("source"),
        (coalesce(col("rk"), lit(0L)) * coalesce(col("ck"), lit(0L))).as("p"))
      .groupBy(col("source")).agg(sum(col("p")).as("s_marg"))
    n.join(d, Seq("source"), "left")
      .withColumn("n_agree", coalesce(col("n_agree"), lit(0L)))
      .join(s, "source")
      .withColumn("kappa_ppm", expr(
        """CASE WHEN n_docs * n_docs = s_marg THEN CAST(NULL AS BIGINT)
          |     ELSE (n_agree * n_docs - s_marg) * 1000000L
          |          div (n_docs * n_docs - s_marg) END""".stripMargin))
      .select(col("source"), col("n_docs"), col("n_agree"), col("s_marg"),
        col("kappa_ppm"))
      .orderBy(col("source"))
  }

  /** Composite quality score in [0,1]: length saturation, low-punct
    * bonus, stopword density. Pure double arithmetic over exact integer
    * counts — every op (÷, ×, +, least/greatest) is correctly-rounded
    * IEEE in fixed textual order, so the identical expression tree on
    * the oracle side reproduces the exact 64-bit value with no
    * rounding step (ROUND over DOUBLE is engine-dependent; the raw
    * value is not). */
  def qualityScore(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).cast("long"))
      .withColumn("n_punct", length(regexp_replace(col("text"), "[A-Za-z0-9_ ]", "")).cast("long"))
      .withColumn("n_stop", size(expr("regexp_extract_all(lower(text), '\\\\b(the|and|of|to|in|a)\\\\b', 0)")).cast("long"))
      .withColumn("len_component", least(col("n_tokens").cast("double") / 100.0, lit(1.0)))
      .withColumn("punct_component",
        lit(1.0) - least(col("n_punct").cast("double") / greatest(col("n_chars"), lit(1L)).cast("double") * 10.0, lit(1.0)))
      .withColumn("stop_component",
        least(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1L)).cast("double") * 5.0, lit(1.0)))
      .withColumn("quality",
        col("len_component") * 0.4 + col("punct_component") * 0.3 + col("stop_component") * 0.3)
      .select(col("doc_id"), col("n_tokens"), col("n_punct"), col("n_stop"), col("quality"))
      .orderBy(col("doc_id"))

  /** Content fingerprints: md5 (cross-engine canonical) — the dedup
    * identity used by [[DedupOps.exactDedup]]. */
  def fingerprints(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(col("text")).as("fp_md5"),
              length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** BPE-ish token-count estimate (the training-cost denominator):
    * whitespace tokens plus a subword-piece proxy — letter runs,
    * single digits (BPE-style digit splitting), and single
    * punctuation marks each count as one piece. A pure per-row regex
    * count in whole-stage codegen, no shuffle; the regexes avoid
    * escape classes so Java (Spark) and RE2 (oracle) agree byte for
    * byte. */
  def tokenEstimate(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$pieceRe', 0)"))
          .cast("long").as("n_pieces"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)"))
          .cast("long").as("n_ws_tokens"))
      .withColumn("pieces_per_token",
        (col("n_pieces").cast("double") /
              greatest(col("n_ws_tokens"), lit(1L)).cast("double")))
      .orderBy(col("doc_id"))

  /** Distinct word n-grams per document (lowercased token windows,
    * joined with single spaces) — the decontamination unit. Exploded
    * long-form: (doc_id, gram). */
  def wordNgrams(documents: DataFrame, n: Int = 5): DataFrame =
    // no filter on size(toks): predicate pushdown would re-derive the
    // token regex inside the filter (q102/q103 lesson), and "has >= n
    // tokens" has no cheap raw-text equivalent. Guard inside the gram
    // projection instead — explode of the empty array drops short
    // docs exactly like the filter did, and CollapseProject keeps the
    // two projections separate (toks is referenced more than once and
    // is not cheap), so the regex runs once per row.
    documents
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), explode(array_distinct(
        expr(s"CASE WHEN size(toks) >= $n THEN " +
          s"transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' ')) " +
          "ELSE array() END")))
        .as("gram"))

  /** Cross-set decontamination (the LLM-pipeline eval-leak check):
    * count, per corpus document, the distinct word n-grams it shares
    * with ANY held-out document, and flag documents at or above
    * `minShared`. Joining against the DISTINCT held-out gram set (not
    * held-out documents) keeps the join linear in corpus grams — no
    * corpus-doc × heldout-doc pair blowup; at 100 TB the held-out gram
    * set is small enough to broadcast or bloom-filter, and AQE picks
    * the broadcast side automatically here. Fully SQL-expressible →
    * hash-checked against the DuckDB oracle (q62). */
  def contaminationCheck(corpus: DataFrame, heldout: DataFrame,
                         n: Int = 5, minShared: Int = 5): DataFrame = {
    val heldGrams = wordNgrams(heldout, n).select(col("gram")).distinct()
    val shared = wordNgrams(corpus, n)
      .join(heldGrams, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("flagged", col("n_shared") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** Cross-split contamination matrix — the audit a train/val/test
    * split ships with: for every ordered pair of splits, how many of
    * split A's documents share at least one word n-gram with split B,
    * and how many distinct grams the two splits have in common. The
    * split assignment replays [[hashSplit]]'s xxhash64 bucketing so
    * the matrix audits the EXACT split a pipeline would train on, not
    * a re-randomized one. Topology: one shuffle keys the per-doc
    * distinct grams by gram; the per-split gram dictionary joins back
    * on that same key (co-partitioned, and AQE broadcasts it when
    * genuinely small). Per-gram fanout is bounded by the number of
    * splits (3), never by document count, so no gram-pair blowup
    * exists at any corpus size. Zero rows are kept (left joins from
    * the complete split×split frame) — "no leakage detected" is the
    * result that matters. */
  def crossSplitContamination(documents: DataFrame, n: Int = 5): DataFrame =
    crossSplitContaminationAssigned(
      documents.select(col("doc_id"), col("text"),
        when(pmod(xxhash64(col("doc_id")), lit(10)) < 8, lit("train"))
          .when(pmod(xxhash64(col("doc_id")), lit(10)) === 8, lit("val"))
          .otherwise(lit("test")).as("split")),
      n)

  /** [[crossSplitContamination]] over a CALLER-ASSIGNED split column
    * — the form the composed pipeline audit (q236) needs: the matrix
    * then audits whatever split actually shipped (cluster-aware,
    * incremental-frozen, …), not a re-derived hash split. `assigned`
    * carries (doc_id, text, split). */
  def crossSplitContaminationAssigned(assigned: DataFrame, n: Int = 5): DataFrame = {
    // the positioned-gram frame feeds two consumers and the per-split
    // dictionary three (contamination join + both overlap sides) —
    // checkpoint each once so the tokenize+gram scan runs once (the
    // q113 lesson applied at design time)
    val grams = Spread.byKey(
        assigned.select(col("doc_id"), col("split"), col("text")), col("doc_id"))
      .select(col("doc_id"), col("split"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), col("split"), explode(array_distinct(
        expr(s"CASE WHEN size(toks) >= $n THEN " +
          s"transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' ')) " +
          "ELSE array() END"))).as("gram"))
      .localCheckpoint(false)
    val gramSplits = grams.select(col("split"), col("gram")).distinct().localCheckpoint(false)
    val totals = assigned.groupBy(col("split")).agg(count(lit(1)).as("n_docs_a"))
    val frame = totals.select(col("split").as("split_a"), col("n_docs_a"))
      .crossJoin(totals.select(col("split").as("split_b")))
      .filter(col("split_a") =!= col("split_b"))
    val contaminated = grams
      .join(gramSplits.select(col("split").as("split_b"), col("gram")), "gram")
      .filter(col("split") =!= col("split_b"))
      .select(col("split").as("split_a"), col("split_b"), col("doc_id"))
      .distinct()
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_docs_contaminated"))
    val sharedGrams = gramSplits.select(col("split").as("split_a"), col("gram"))
      .join(gramSplits.select(col("split").as("split_b"), col("gram")), "gram")
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_shared_grams"))
    frame
      .join(contaminated, Seq("split_a", "split_b"), "left")
      .join(sharedGrams, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"), col("n_docs_a"),
        coalesce(col("n_docs_contaminated"), lit(0L)).as("n_docs_contaminated"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .withColumn("contam_frac",
        (col("n_docs_contaminated").cast("double") / col("n_docs_a")))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Decontamination with a BLOOM-FILTER held-out set — the 100 TB
    * form of [[contaminationCheck]]: instead of joining corpus grams
    * against the distinct held-out gram relation, the held-out grams
    * are folded into one Bloom filter (built distributed via
    * `stat.bloomFilter`'s aggregate), broadcast to every executor,
    * and corpus grams are tested locally — the shuffle of corpus
    * grams to a join disappears entirely; the only cluster traffic is
    * the filter itself (MB-scale at fpp 1e-3 for hundreds of millions
    * of grams). False positives can only over-count shared grams, so
    * flags are a SUPERSET of the exact check's (no false negatives —
    * asserted in TextDedupSpec); run the exact join on the flagged
    * subset when exactness matters. The filter itself is
    * deterministic (Murmur3_x86_32, seed 0), so the DuckDB oracle
    * replays it bit-exactly, false positives included
    * (queries/Catalog.scala q85OracleSql). */
  def bloomContaminationCheck(corpus: DataFrame, heldout: DataFrame,
                              n: Int = 5, minShared: Int = 5,
                              fpp: Double = 0.001): DataFrame = {
    val heldGrams = wordNgrams(heldout, n).select(col("gram")).distinct()
    val expected = math.max(heldGrams.count(), 1L)
    val bf = heldGrams.stat.bloomFilter("gram", expected, fpp)
    // native codegen probe — no Scala-UDF barrier in the scan
    // (graft.functions.BloomProbe; the serialized filter rides the
    // task binary, which Spark broadcasts once per stage)
    val shared = wordNgrams(corpus, n)
      .filter(graft.functions.BloomProbe.probe(corpus.sparkSession, bf, col("gram")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    corpus.select(col("doc_id"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("flagged", col("n_shared") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** BLOOM REBUILD applier (q283, r16 — VERDICT r15 missing #1): the
    * follow-through the q273 `bloom_rebuild, clean=false` flag
    * demands. The held-out-gram decontamination Bloom cannot
    * decrement (bits are shared), so a takedown touching the held-out
    * set REBUILDS the filter from held-out-minus-removal and this
    * applier certifies the rebuild the q277 way — the q85 serving
    * surface re-driven over BOTH filters:
    *   - `bloom_rebuild` — the q273 ledger row FLIPPED: n_before/
    *     n_after are the old/new key-set cardinalities and clean now
    *     asserts key-set conservation (new ≡ old − removed-only),
    *     the executed rebuild instead of the standing flag.
    *   - `removed_grams` — the removal actually stops serving:
    *     n_before counts removed-only grams the OLD filter contains
    *     (all of them — Blooms have no false negatives; clean asserts
    *     exactly that) and n_after those the NEW filter still answers
    *     positively, which can only be false positives (fpp-bounded,
    *     typically 0 at test scale — the spec pins the fixture).
    *   - `serving/n_flagged`, `serving/n_shared_sum` — the q85
    *     verdict counts over the PURGED corpus under old vs new
    *     filter. clean asserts the rebuild never increases
    *     contamination evidence (a different filter geometry could in
    *     principle add a false positive; surfacing that as
    *     clean=false is the honest outcome, not an error).
    * Both filters are deterministic (Murmur3 seed 0), so the DuckDB
    * oracle replays the ENTIRE report bit-exactly — both geometries,
    * false positives included (queries/Catalog q283).
    *
    * Scale: held-out is an eval set (bounded — the
    * [[bloomContaminationCheck]] contract), so both builds and the
    * removed-gram probes are held-out-bounded; the corpus pays
    * exactly two map-only probe scans (the pre/post re-drive a
    * serving cert owes — the q277 BM25 pattern), never a join
    * shuffle. Every reported number is an aggregate; nothing
    * corpus-sized reaches the driver. */
  def bloomRebuildApply(documents: DataFrame, removal: DataFrame,
                        heldoutMaxId: Long = 50, n: Int = 5,
                        minShared: Int = 5, fpp: Double = 0.001): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rm = broadcast(removal.select(col("doc_id")).distinct()
      .localCheckpoint(false)) // held-out + corpus anti-joins
    val heldOld = documents.filter(col("doc_id") < heldoutMaxId)
    val heldNew = heldOld.join(rm, Seq("doc_id"), "left_anti")
    val corpus = documents.filter(col("doc_id") >= heldoutMaxId)
      .join(rm, Seq("doc_id"), "left_anti") // the purged serving corpus
    val oldGrams = wordNgrams(heldOld, n).select(col("gram")).distinct()
      .localCheckpoint(false) // filter build + removed-only diff + count
    val newGrams = wordNgrams(heldNew, n).select(col("gram")).distinct()
      .localCheckpoint(false)
    val removedOnly = oldGrams.join(newGrams, Seq("gram"), "left_anti")
      .localCheckpoint(false) // two probes + count
    // ONE action for the three gram-set cardinalities (r18: they were
    // three separate count() jobs) — the frames are checkpointed, so
    // the union re-reads blocks
    val cardRows = oldGrams.select(lit("o").as("side"))
      .unionByName(newGrams.select(lit("n").as("side")))
      .unionByName(removedOnly.select(lit("r").as("side")))
      .groupBy(col("side")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nOld = cardRows.getOrElse("o", 0L)
    val nNew = cardRows.getOrElse("n", 0L)
    val nRemovedOnly = cardRows.getOrElse("r", 0L)
    val bfOld = oldGrams.stat.bloomFilter("gram", math.max(nOld, 1L), fpp)
    val bfNew = newGrams.stat.bloomFilter("gram", math.max(nNew, 1L), fpp)
    // both filters probe in ONE pass per relation (r18: the old/new
    // re-drives each re-ran the corpus gram explode — the op's CPU
    // center — as separate single-task actions; now the explode runs
    // once, spread across cores, with both probe columns in the same
    // codegen'd projection). Counts are bit-identical: a doc with no
    // probing gram contributes 0 to every sum either way.
    val rmProbes = removedOnly
      .select(graft.functions.BloomProbe.probe(spark, bfOld, col("gram"))
          .cast("long").as("po"),
        graft.functions.BloomProbe.probe(spark, bfNew, col("gram"))
          .cast("long").as("pn"))
      .agg(coalesce(sum(col("po")), lit(0L)).cast("long"),
           coalesce(sum(col("pn")), lit(0L)).cast("long"))
      .head
    val (rpOld, rpNew) = (rmProbes.getLong(0), rmProbes.getLong(1))
    val servingRow = wordNgrams(Spread.byKey(
        corpus.select(col("doc_id"), col("text")), col("doc_id")), n)
      .select(col("doc_id"),
        graft.functions.BloomProbe.probe(spark, bfOld, col("gram"))
          .cast("long").as("po"),
        graft.functions.BloomProbe.probe(spark, bfNew, col("gram"))
          .cast("long").as("pn"))
      .groupBy(col("doc_id"))
      .agg(sum(col("po")).as("nsh_old"), sum(col("pn")).as("nsh_new"))
      .agg(coalesce(sum(when(col("nsh_old") >= minShared, 1L)
          .otherwise(0L)), lit(0L)).cast("long"),
        coalesce(sum(col("nsh_old")), lit(0L)).cast("long"),
        coalesce(sum(when(col("nsh_new") >= minShared, 1L)
          .otherwise(0L)), lit(0L)).cast("long"),
        coalesce(sum(col("nsh_new")), lit(0L)).cast("long"))
      .head
    val (flagPre, sumPre, flagPost, sumPost) = (servingRow.getLong(0),
      servingRow.getLong(1), servingRow.getLong(2), servingRow.getLong(3))
    Seq(
      ("bloom_rebuild", "all", nOld, nNew, nNew == nOld - nRemovedOnly),
      ("removed_grams", "all", rpOld, rpNew, rpOld == nRemovedOnly),
      ("serving", "n_flagged", flagPre, flagPost, flagPost <= flagPre),
      ("serving", "n_shared_sum", sumPre, sumPost, sumPost <= sumPre))
      .toDF("artifact", "key", "n_before", "n_after", "clean")
      .select(col("artifact"), col("key"), col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).cast("long").as("n_removed"),
        col("clean"))
      .orderBy(col("artifact"), col("key"))
  }

  /** SUBSTRING-level decontamination — exact eval strings found
    * verbatim inside corpus text via a broadcast Aho–Corasick
    * automaton ([[graft.functions.AhoCorasick]]). Complements the
    * gram joins (q62/q85): those see only matches that survive
    * tokenization and pay a shuffle that scales with the CORPUS gram
    * count; this one compiles the needles (distinct lowercased
    * held-out sentences ≥ `minLen` chars) into one automaton, ships
    * it to every executor, and decides every document in a single
    * O(chars + matches) scan — no shuffle, no hot-gram candidate
    * blowup, catches contamination that crosses token boundaries.
    *
    * CONTRACT (the broadcast bound): `heldOut` is an EVAL set — a
    * bounded artifact (thousands of strings, MBs of automaton) even
    * under a 100 TB corpus, same boundedness the Bloom filter in
    * [[bloomContaminationCheck]] relies on. The driver-side collect
    * here is needle-sized, never corpus-sized.
    *
    * Output: one row per corpus doc — how many DISTINCT needles it
    * contains and the flag. Matching is exact substring equality on
    * lowercased text, so the DuckDB oracle replays it as a
    * contains() join (bounded: docs × needles only at oracle SF). */
  def substringContamination(corpus: DataFrame, heldOut: DataFrame,
                             minLen: Int = 20): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val needles: Array[String] = heldOut
      .select(explode(split(col("text"), "\\. ")).as("s"))
      .select(lower(trim(col("s"))).as("nd"))
      .filter(length(col("nd")) >= minLen)
      .distinct()
      .as[String].collect()
    val ac = spark.sparkContext.broadcast(AhoCorasick.build(needles))
    corpus
      .select(col("doc_id").cast("long").as("doc_id"),
        lower(col("text")).as("lt"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val a = ac.value
        it.map { case (id, t) => (id, a.countDistinct(t).toLong) }
      }
      .toDF("doc_id", "n_needles_hit")
      .withColumn("flagged", col("n_needles_hit") >= 1)
      .orderBy(col("doc_id"))
  }

  /** Fuzzy entity matching (edit distance within blocking keys) — the
    * entity-resolution operator a spend/vendor pipeline needs for
    * near-identical name variants. All-pairs Levenshtein is O(n²·L²)
    * and never acceptable; BLOCKING makes it tractable: candidates
    * are generated only within equal blocking keys (here the brand),
    * an equi-join, and the quadratic edit distance runs per block.
    * At 100 TB the blocking key is the shuffle key and per-block cost
    * is bounded by the largest block (pick keys accordingly, or
    * compose with the LSH candidate generators for text blocks).
    * Fully SQL-expressible — hash-matched against DuckDB's
    * levenshtein. */
  def fuzzyNameMatch(part: DataFrame, maxDist: Int = 2): DataFrame = {
    // the dim fits one scan partition, but the pair space is
    // quadratic: spread the PROBE side across the cluster so block
    // expansion runs parallel (the broadcast build side needs no
    // particular partitioning)
    val probeParts = part.sparkSession.sparkContext.defaultParallelism
    // LENGTH-BANDED blocking (r18, guide §3): |len_i − len_j| ≤
    // maxDist is a necessary condition for dist ≤ maxDist, so the
    // length bucket joins as a KEY instead of filtering after the
    // brand block's quadratic expansion. The probe sits in its own
    // width-(maxDist+1) bucket; the build side explodes to every
    // bucket its length ± maxDist touches (≤ 3 rows), so each
    // qualifying pair meets EXACTLY once — same rows out, the
    // per-block pair space cut by the block's length spread.
    val bw = maxDist + 1
    val a = part.select(col("p_partkey").as("key_i"), col("p_brand"),
                        col("p_name").as("name_i"))
      .withColumn("__lb", expr(s"length(name_i) DIV $bw"))
      .repartition(probeParts)
    val b = part.select(col("p_partkey").as("key_j"), col("p_brand"),
                        col("p_name").as("name_j"))
      .withColumn("__lb", explode(expr(
        s"sequence(greatest(length(name_j) - $maxDist, 0) DIV $bw, " +
        s"(length(name_j) + $maxDist) DIV $bw)")))
    a.join(b, Seq("p_brand", "__lb"))
      .filter(col("key_i") < col("key_j"))
      // the exact band stays as a residual filter (bucket co-occurrence
      // is the necessary-condition superset)
      .filter(abs(length(col("name_i")) - length(col("name_j"))) <= maxDist)
      // thresholded levenshtein: banded O(maxDist·len) with early
      // exit, returning -1 past the threshold — ~5× the unthresholded
      // O(len²) form on surviving pairs (exact distance when within)
      .withColumn("dist",
        levenshtein(col("name_i"), col("name_j"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("key_i"), col("key_j"), col("dist"))
      .orderBy(col("key_i"), col("key_j"))
  }

  /** Two-frame [[fuzzyNameMatch]] — a PROBE batch matched against a
    * REFERENCE dim (the incremental entity-resolution edge generator:
    * new names vs stored members, never reference×reference). Same
    * blocking (brand equi-join + length band — a necessary condition
    * for dist ≤ maxDist) and the same thresholded Levenshtein; emits
    * each qualifying pair once as an ordered (key_i < key_j) edge.
    * Cost is Σ_block |probe_block|·|reference_block| — scales with
    * the batch, not the reference's square. */
  def fuzzyNameMatchAcross(probe: DataFrame, reference: DataFrame,
                           maxDist: Int = 2): DataFrame = {
    val probeParts = probe.sparkSession.sparkContext.defaultParallelism
    // same length-banded blocking as [[fuzzyNameMatch]]: probe in its
    // own bucket, reference exploded to the covering buckets — each
    // qualifying pair meets exactly once
    val bw = maxDist + 1
    val a = probe.select(col("p_partkey").as("key_a"), col("p_brand"),
                         col("p_name").as("name_a"))
      .withColumn("__lb", expr(s"length(name_a) DIV $bw"))
      .repartition(probeParts)
    val b = reference.select(col("p_partkey").as("key_b"), col("p_brand"),
                             col("p_name").as("name_b"))
      .withColumn("__lb", explode(expr(
        s"sequence(greatest(length(name_b) - $maxDist, 0) DIV $bw, " +
        s"(length(name_b) + $maxDist) DIV $bw)")))
    a.join(b, Seq("p_brand", "__lb"))
      .filter(col("key_a") =!= col("key_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select(least(col("key_a"), col("key_b")).as("key_i"),
              greatest(col("key_a"), col("key_b")).as("key_j"), col("dist"))
      .distinct()
  }

  /** Quality deciles — data-mixing's bucketing step: rank every
    * document by its quality score into ntile(10) bands (doc_id
    * breaks ties, so the assignment is total and deterministic) and
    * report each band's population and score range.
    *
    * EXACT ntile WITHOUT the global single-partition window (r19,
    * guide §2.1/§5 — the one every-row-through-one-task operator the
    * r18 verdict flagged): quality ∈ [0, 1] by construction (a convex
    * 0.4/0.3/0.3 blend of clamped components), so rows bucket by the
    * fixed-width cut floor(quality·B) — monotone in quality and
    * constant on ties, so buckets are order-aligned SEGMENTS of the
    * global (quality, doc_id) sort. Each bucket rank-windows in
    * parallel; per-bucket counts fold into exact offsets over a
    * B-row bounded frame; offset + in-bucket rank IS the exact global
    * rank, and the textbook ntile formula (first n mod 10 bands carry
    * one extra row) maps rank to decile. Bit-identical to
    * ntile(10) OVER (ORDER BY quality, doc_id) — the sketch-free cut
    * only PLACES bucket boundaries, it never decides a rank. */
  def qualityDeciles(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBuckets = 64
    // the (doc_id, quality, bkt) projection is checkpointed once: the
    // count branch and the rank branch both read it, so the regex-
    // heavy quality scan runs exactly once at any corpus size
    val scored = qualityScore(documents)
      .select(col("doc_id"), col("quality"))
      .withColumn("bkt",
        least(floor(col("quality") * nBuckets), lit(nBuckets - 1))
          .cast("long"))
      .localCheckpoint(false) // bucket counts + the ranked pass
    // exact offsets: per-bucket counts, cumulated over ≤B rows —
    // bounded by construction, never corpus-sized
    val wOff = Window.orderBy(col("bkt"))
    val offsets = scored.groupBy(col("bkt"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(wOff.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", sum(col("c")).over(
        wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bkt"), col("off"), col("n"))
    val wB = Window.partitionBy(col("bkt"))
      .orderBy(col("quality"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(wB).cast("long"))
      .join(broadcast(offsets), "bkt")
      .withColumn("r", col("off") + col("rn"))
      .withColumn("q10", expr("n DIV 10"))
      .withColumn("m10", col("n") % 10)
      .withColumn("decile", expr(
        "CAST(CASE WHEN r <= (q10 + 1) * m10 THEN (r - 1) DIV (q10 + 1) + 1 " +
        "ELSE m10 + (r - m10 * (q10 + 1) - 1) DIV q10 + 1 END AS BIGINT)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("quality")).as("min_q"),
           max(col("quality")).as("max_q"))
      .orderBy(col("decile"))
  }

  /** Deterministic train/val/test assignment by KEY HASH — the split
    * that stays stable as the corpus grows (a doc's split never
    * changes when other docs arrive, unlike randomSplit's
    * partition-sensitive sampling). xxhash64 of the id, mod 10:
    * 0-7 train, 8 val, 9 test. Emits per-split populations;
    * assignment determinism and disjointness are CoreSpec-asserted
    * (hash function is engine-specific ⇒ rows-only vs the oracle). */
  def hashSplit(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), pmod(xxhash64(col("doc_id")), lit(10)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, "train").when(col("bucket") === 8, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))

  /** PII scrubbing — the redaction pass a training pipeline runs
    * before anything else: mask email-shaped tokens and long digit
    * runs (phone/account numbers), and report how many of each were
    * redacted per document. Pure per-row regexp_replace work in
    * whole-stage codegen; patterns avoid escape classes so Java and
    * RE2 agree. Swap the patterns for jurisdiction-specific ones
    * without touching the plan. */
  def piiScrub(documents: DataFrame): DataFrame = {
    val emailRe = "[A-Za-z0-9_.]+@[A-Za-z0-9_.]+"
    val digitsRe = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"
    documents
      .select(col("doc_id"), col("text"))
      .withColumn("n_emails",
        size(expr(s"regexp_extract_all(text, '$emailRe', 0)")).cast("long"))
      .withColumn("n_numbers",
        size(expr(s"regexp_extract_all(regexp_replace(text, '$emailRe', '<EMAIL>'), '$digitsRe', 0)")).cast("long"))
      .withColumn("clean_text",
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"), digitsRe, "<NUMBER>"))
      .withColumn("clean_fp", md5(col("clean_text")))
      .select(col("doc_id"), col("n_emails"), col("n_numbers"), col("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals — the quality gates that catch
    * boilerplate and degenerate generation: distinct-token ratio,
    * most-frequent-token share, and duplicate-line fraction. All
    * per-row array work, no shuffle. */
  def repetitionSignals(documents: DataFrame): DataFrame =
    documents
      // token-less guard on the RAW text (q102/q103 pushdown lesson:
      // a pushed `n_tokens > 0` re-derives the token regex in the
      // filter); the token regex matches iff some alnum/underscore
      // char exists
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"),
        split(col("text"), "\\. ").as("sentences"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("distinct_ratio",
        (col("n_distinct").cast("double") / col("n_tokens")))
      // max token frequency = longest equal-run in the sorted array:
      // O(n log n) per row (the distinct×filter formulation is
      // O(distinct·n) — quadratic on real-corpus documents)
      .withColumn("top_tok_share", (
        expr("""aggregate(array_sort(toks),
               named_struct('prev', '', 'run', 0, 'best', 0),
               (acc, x) -> named_struct(
                 'prev', x,
                 'run', IF(x = acc.prev, acc.run + 1, 1),
                 'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, 1))),
               acc -> acc.best)""")
          .cast("double") / col("n_tokens")))
      .withColumn("n_sentences", size(col("sentences")).cast("long"))
      .withColumn("n_distinct_sentences", size(array_distinct(col("sentences"))).cast("long"))
      .withColumn("dup_sentence_frac", (
        (col("n_sentences") - col("n_distinct_sentences")).cast("double") /
          greatest(col("n_sentences"), lit(1L)).cast("double")))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("distinct_ratio"),
              col("top_tok_share"), col("dup_sentence_frac"))
      .orderBy(col("doc_id"))

  /** Fingerprint via the custom codegen'd [[RollingHash]] expression
    * (not SQL-oracle-expressible; value-checked in TextSpec against an
    * independent Scala implementation). */
  def rollingFingerprints(documents: DataFrame): DataFrame = {
    RollingHash.register(documents.sparkSession)
    documents
      .select(col("doc_id"), expr("rolling_hash(text)").as("fp_rolling"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-RULE filtering — the published-rule document gate
    * (Gopher/RefinedWeb-style repetition criteria) composed from the
    * q72 signals into one keep/drop verdict with the FIRST failing
    * rule as the reason: too short, duplicate-sentence fraction,
    * dominant-token share, low token diversity — in that order, so
    * the verdict is deterministic under rule overlap. Thresholds are
    * the dial; the engine contract is the composition: signals are
    * computed once (pure codegen scan work), the gate is a CASE, and
    * the drop REASON survives for the corpus card's accounting. All
    * comparisons run on the 6-dp-rounded signals, so the oracle's
    * CASE sees bit-identical inputs. Token-LESS documents (which
    * [[repetitionSignals]] excludes — its ratios are undefined at
    * n_tokens = 0) still get a verdict row here: a gate that loses
    * exactly the most droppable docs would corrupt every downstream
    * kept/dropped tally, so the left join restores them with
    * n_tokens = 0, NULL signals, and verdict 'too_short'. */
  def repetitionRuleFilter(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"))
      .join(repetitionSignals(documents), Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .withColumn("verdict",
        when(col("n_tokens") < 5, "too_short")
          .when(col("dup_sentence_frac") > 0.30, "dup_sentences")
          .when(col("top_tok_share") > 0.20, "top_token")
          .when(col("distinct_ratio") < 0.30, "low_diversity")
          .otherwise("keep"))
      .withColumn("kept", col("verdict") === "keep")
      .select(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
              col("top_tok_share"), col("dup_sentence_frac"),
              col("verdict"), col("kept"))
      .orderBy(col("doc_id"))

  /** Gate accounting — the kept/dropped tally the repetition gate
    * exists to feed: per verdict, how many documents and how much
    * token mass the rule keeps or removes, plus each verdict's share
    * of the corpus. This is the number a curation run reports ("the
    * dup-sentence rule cost 4.2% of tokens") and the reason
    * [[repetitionRuleFilter]] must emit a row for EVERY input doc —
    * a gate that loses zero-token docs under-counts its own
    * 'too_short' bucket (the r8 fix this rollup makes observable).
    * One keyed aggregate over the gate's scan output; the share is a
    * tiny whole-frame window over ≤5 verdict rows. */
  def gateAccounting(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    repetitionRuleFilter(documents)
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("doc_frac", (
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy())))
      .select(col("verdict"), col("n_docs"), col("n_tokens"), col("doc_frac"))
      .orderBy(col("verdict"))
  }

  /** Ingest-order novelty score — how much of each document the
    * corpus had NOT seen before it arrived: a word 5-gram's first
    * sighting is the minimum doc_id carrying it (ingest order), and a
    * doc's novelty is the share of its distinct grams it first
    * introduced. Crawl-frontier prioritization and dedup-aware
    * curriculum both key on this ("boilerplate-late" docs score near
    * 0; genuinely new pages near 1). One gram rollup for first-seen
    * (map-side combinable MIN — boilerplate grams collapse early) +
    * one co-keyed join back; ppm integers, one display division. */
  def gramNovelty(documents: DataFrame, n: Int = 5): DataFrame = {
    // spread before the gram explosion (Spread scaladoc)
    val grams = wordNgrams(
        Spread.byKey(documents.select(col("doc_id"), col("text")), col("doc_id")), n)
      .select(col("doc_id"), col("gram")).distinct()
      .localCheckpoint(false) // first-seen rollup + the join back
    val firstSeen = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Quality-rule ABLATION report — which gate rule actually does the
    * work: [[repetitionRuleFilter]] reports only the FIRST failing
    * rule, so a rule shadowed by an earlier one looks free; this
    * report evaluates every rule independently and emits, per rule,
    * the docs failing it at all (n_fail), failing it ALONE (n_solo —
    * the docs only this rule saves you from), first-attributed to it
    * by the q114 verdict chain (n_first), and the token mass behind
    * n_fail. n_solo ≈ 0 means the rule is redundant and can be
    * retired; n_fail ≫ n_first means the verdict order hides its
    * reach. Same one-scan signal computation as the gate, a 4-way
    * stack explode (constant fanout), one ≤4-row rollup. */
  def ruleAblationReport(documents: DataFrame): DataFrame =
    repetitionRuleFilter(documents)
      .withColumn("f_short", col("n_tokens") < 5)
      .withColumn("f_dup", coalesce(col("dup_sentence_frac") > 0.30, lit(false)))
      .withColumn("f_top", coalesce(col("top_tok_share") > 0.20, lit(false)))
      .withColumn("f_div", coalesce(col("distinct_ratio") < 0.30, lit(false)))
      .withColumn("n_fails",
        col("f_short").cast("int") + col("f_dup").cast("int") +
          col("f_top").cast("int") + col("f_div").cast("int"))
      .selectExpr("doc_id", "n_tokens", "verdict", "n_fails",
        "stack(4, 'too_short', f_short, 'dup_sentences', f_dup, " +
          "'top_token', f_top, 'low_diversity', f_div) AS (rule, fails)")
      .groupBy(col("rule"))
      .agg(sum(when(col("fails"), 1L).otherwise(0L)).as("n_fail"),
           sum(when(col("fails") && col("n_fails") === 1, 1L).otherwise(0L)).as("n_solo"),
           sum(when(col("verdict") === col("rule"), 1L).otherwise(0L)).as("n_first"),
           sum(when(col("fails"), col("n_tokens")).otherwise(0L)).as("tokens_fail"))
      .orderBy(col("rule"))

  /** The positioned word-n-gram frame (doc_id, pos, g) — the
    * positional-postings artifact the span family is the
    * shuffle-friendly (suffix-array-equivalent) form of. Spread: the
    * tokenize+gram explosion is the ops' CPU center and a
    * single-row-group scan would run it on one task (Spread
    * scaladoc). */
  private[graft] def positionedGrams(documents: DataFrame, n: Int): DataFrame =
    Spread.byKey(documents.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"CASE WHEN size(toks) >= $n THEN transform(sequence(1, size(toks) - ${n - 1}), " +
        s"i -> struct(i AS pos, array_join(slice(toks, i, $n), ' ') AS g)) " +
        "ELSE array() END")).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.g").as("g"))

  /** The PERSISTED positioned-gram frame — q113/q133/q140 all consume
    * the IDENTICAL (doc_id, pos, g) construction, so it is persisted
    * once per (corpus, n) like the token postings
    * ([[RetrievalOps.bm25PostingsFor]]'s stored-index posture): a
    * production excision pipeline materializes the positional
    * postings once per corpus snapshot and every span pass probes
    * them. Pure per-row derivation (regex + slices) ⇒ stored ≡
    * inline — asserted in ArtifactsSpec and by the consumers' oracles
    * (r19, guide §1.2). */
  def positionedGramsFor(documents: DataFrame, n: Int): DataFrame =
    Artifacts.table("pos_grams", Seq(n), Seq(documents))(positionedGrams(documents, n))

  /** Cross-document repeated-SPAN detection — the boilerplate /
    * copied-passage finder that doc-level near-dedup cannot express:
    * positioned word n-grams join on the gram, and each shared
    * occurrence lands on an alignment DIAGONAL (pos_i − pos_j); a
    * contiguous copied span of L tokens puts L − n + 1 hits on one
    * diagonal, so per doc pair the max diagonal count measures the
    * longest aligned run while the total counts overall overlap.
    * Grams occurring at more than `maxPostings` positions are dropped
    * before the self-join (the [[graft.engine.DedupOps]] degenerate-
    * bucket discipline — a universal boilerplate gram would square
    * the join); the gram string itself is the join key, so the oracle
    * needs no hash replay. One gram shuffle + one pair aggregate;
    * never all-pairs. The positioned grams are read from the stored
    * [[positionedGramsFor]] table, which feeds four consumers here
    * (the postings count, the semi-join probe and both self-join
    * sides), each a scan of the table. */
  def sharedSpans(documents: DataFrame, n: Int = 10, minShared: Int = 3,
                  maxPostings: Int = 50): DataFrame = {
    val ng = positionedGramsFor(documents, n)
    // lower bound 2: a gram with one posting can never produce a
    // cross-doc hit, and singletons are the overwhelming majority of
    // positioned grams — the bound turns the self-join input from
    // every gram into just the shared ones. The prune is a LEFT-SEMI
    // join with NO broadcast hint: the non-singleton gram set scales
    // with the corpus (a forced broadcast would collect a corpus-
    // sized set onto the driver at 100 TB), while the semi-join
    // co-partitions with the postings-count shuffle already paid on
    // `g` — and AQE still downgrades to broadcast when the set is
    // genuinely small
    val keep = ng.groupBy(col("g")).agg(count(lit(1)).as("pn"))
      .filter(col("pn") >= 2 && col("pn") <= maxPostings).select(col("g"))
    val capped = ng.join(keep, Seq("g"), "left_semi")
    val diagHits = capped.as("a")
      .join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
               (col("a.pos") - col("b.pos")).as("diag"))
      .agg(count(lit(1)).as("diag_hits"))
    diagHits
      .groupBy(col("doc_i"), col("doc_j"))
      .agg(sum(col("diag_hits")).as("n_shared_spans"),
           count(lit(1)).as("n_diags"),
           max(col("diag_hits")).as("max_diag_hits"))
      .filter(col("n_shared_spans") >= minShared)
      .select(col("doc_i"), col("doc_j"), col("n_shared_spans"),
              col("n_diags"), col("max_diag_hits"))
      .orderBy(col("doc_i"), col("doc_j"))
  }

  /** Maximal duplicated-passage extraction — the excision side of
    * exact-substring dedup (the "dedup by removing repeated spans"
    * design, cf. reference `app/dedup.py`-style passage flagging; the
    * suffix-array formulation in the literature computes the same
    * spans, but positioned n-grams are the shuffle-friendly way to
    * get them on Spark). Where [[sharedSpans]] reports PAIR evidence
    * (who shares with whom), this reports the per-document CUT LIST:
    * each maximal run of token positions whose n-gram also occurs in
    * at least one OTHER document, merged gaps-and-islands style into
    * `[span_start, span_start + span_tokens)` token ranges a writer
    * can splice out.
    *
    * Scale shape: the positioned-gram frame is token-count sized and
    * materializes once; the cross-doc gram set is a keyed count on
    * `g` (word-count shaped) with the same 2..maxPostings cap as
    * [[sharedSpans]] — the cap keeps boilerplate floods from turning
    * the probe into a hot-key join, and the flooded grams are
    * reported by [[boilerplateGrams]] instead. The island merge is a
    * per-document window (row_number over pos) — partitioned by
    * doc_id, so it scales with the longest document, never the
    * corpus. No all-pairs work anywhere: a copied L-token passage in
    * d docs costs d islands, not d² pairs.
    *
    * Determinism: positions are exact integers; `grp = pos − rn` is
    * the classic gaps-and-islands key; output is totally ordered by
    * (doc_id, span_start). The oracle replays the identical chain.
    * The positioned grams are the stored [[positionedGramsFor]]
    * table, scanned by both the postings count and the probe. */
  def duplicateSpans(documents: DataFrame, n: Int = 10,
                     maxPostings: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ng = positionedGramsFor(documents, n)
    // cross-doc duplication requires >= 2 DISTINCT docs (a gram
    // repeated within one doc is repetitionSignals' business, not a
    // dedup cut); total-postings cap as in sharedSpans. Semi-join, no
    // broadcast hint — co-partitions with the count shuffle on `g`.
    val dupGrams = ng.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("pn"))
      .filter(col("nd") >= 2 && col("pn") <= maxPostings)
      .select(col("g"))
    val hit = ng.join(dupGrams, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hit
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
           count(lit(1)).cast("long").as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("n_grams"),
              (col("n_grams") + lit(n.toLong - 1)).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Duplicated-span EXCISION — the writer that applies
    * [[duplicateSpans]]' cut list: every token position covered by a
    * cross-doc duplicated n-gram is spliced out and the surviving
    * tokens are re-joined, per document. Emits the before/after token
    * accounting plus an md5 fingerprint of the cleaned text (the q71
    * clean_fp convention — the fingerprint pins the full rewrite
    * without shipping megabytes of text through the result set). The
    * keep-one-canonical-copy policy is deliberately NOT baked in here:
    * compose with [[graft.engine.DedupOps.canonicalByQualityFromClusters]] to
    * exempt a representative doc per cluster — this operator is the
    * pure splice.
    *
    * Scale shape: covered positions come from exploding each hit
    * gram's n-token range and DISTINCT-ing — bounded by n × hits, and
    * hits are already capped by maxPostings. The splice itself is a
    * (doc_id, tpos)-keyed left anti join that co-partitions with the
    * token explode, then ONE per-doc sort_array(collect_list) —
    * struct-sorted by position, so reassembly never depends on
    * partition order. Every doc with ≥1 token gets a row (n_cut = 0
    * for untouched docs — the accounting the corpus card needs). */
  def exciseDuplicateSpans(documents: DataFrame, n: Int = 10,
                           maxPostings: Int = 50): DataFrame = {
    val toks = documents
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("tpos"), col("tok"))
    val covered = duplicateSpans(documents, n, maxPostings)
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_start + span_tokens - 1)")).as("tpos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "tpos"), "left_anti")
    kept
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
           expr("array_join(transform(array_sort(collect_list(struct(tpos, tok))), s -> s.tok), ' ')")
             .as("clean_text"))
      .join(toks.groupBy(col("doc_id"))
              .agg(count(lit(1)).cast("long").as("n_tokens")),
            Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** N-gram LM self-scoring — the CCNet-style statistical quality
    * filter: train a word-bigram language model ON THE CORPUS and
    * score each document by its mean bigram probability. Documents
    * built from the corpus's common constructions score high;
    * outliers — glitch text, wrong-language fragments, character
    * noise — score low, which is exactly the tail a curation run
    * wants to inspect or drop. LAPLACE-smoothed conditional
    * p(w2|w1) = (c2 + 1) / (c1 + V): raw MLE is unusable for this
    * purpose — a noise bigram whose left context appears exactly once
    * gets p = 1/1, the top score (observed; pinned in the spec) —
    * while smoothing over the V-word vocabulary pushes
    * rare-context bigrams toward 2/V and lets repeated constructions
    * dominate. All counting is word-count shaped (two keyed
    * aggregates over the bigram stream + one probability join); V is
    * one bounded count job at build. At 100 TB the model IS the
    * bigram count table — corpus-bounded — and scoring is one
    * equi-join on the bigram key. Determinism discipline:
    * probabilities floor-quantize to integer ppb (one IEEE division
    * + multiply, then exact floor), the per-doc mean is a pure-BIGINT
    * sum + truncating div — identical on 32 threads or 1000
    * executors — and the oracle replays the identical chain (q120). */
  def ngramLmScore(documents: DataFrame): DataFrame = {
    // the bigram stream feeds THREE consumers (bigram counts, left-
    // context counts, the scoring join) — materialize it once (the
    // sharedSpans lesson: without this, each consumer re-runs the
    // tokenize+explode scan)
    val occ = bigramStream(documents).localCheckpoint(false)
    val bi = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // vocabulary size for the smoothing denominator: distinct word
    // types in the bigram stream — an exact integer both engines
    // derive identically
    val vocab = occ.select(explode(array(col("w1"), col("w2"))).as("w"))
      .distinct().count()
    // probability → integer ppb via floor (exact in every engine —
    // ROUND over DOUBLE is rounding-path-dependent); the per-doc mean
    // is then a pure-BIGINT sum + truncating div, order-independent
    val probs = bi.join(uni, "w1")
      .select(col("w1"), col("w2"),
        floor((col("c2") + lit(1L)).cast("double") /
              (col("c1") + lit(vocab)).cast("double") * lit(1.0e9)).as("p_ppb"))
    occ.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("p_ppb")).as("s_ppb"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s_ppb div n_bigrams").as("lm_score_ppb"))
      .orderBy(col("doc_id"))
  }

  /** Cross-trained LM scoring — [[ngramLmScore]]'s production form:
    * the bigram model trains on a designated REFERENCE slice (here one
    * source — in a real run, a vetted high-quality corpus) and scores
    * EVERY document against it, the actual CCNet design (train on
    * Wikipedia, score Common Crawl). Unseen bigrams back off through
    * the same Laplace smoothing with zero counts — p = (0+1)/(0+V)
    * for a wholly novel context — so out-of-domain text scores low
    * instead of erroring, and `n_seen`/`seen_frac` report reference
    * coverage directly (the domain-shift signal). Model tables are
    * reference-bounded; scoring is two left equi-joins on the bigram
    * stream that co-partition with the count shuffles, AQE
    * broadcasting the model side when it is genuinely small.
    * Determinism: probabilities floor-quantize to integer ppb (one
    * IEEE division + multiply, then exact floor), per-doc mean is a
    * pure-BIGINT sum + truncating div — order-independent. */
  def crossLmScore(documents: DataFrame, refSource: String = "src0"): DataFrame = {
    val occ = documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"), col("source"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) ELSE array() END")).as("p"))
      .select(col("doc_id"), col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint(false)
    val ref = occ.filter(col("source") === refSource)
    val bi = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = ref.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = ref.select(explode(array(col("w1"), col("w2"))).as("w"))
      .distinct().count()
    occ
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .withColumn("p_ppb", floor(
        (coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("c1"), lit(0L)) + lit(vocab)).cast("double") * lit(1.0e9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(when(col("c2").isNotNull, 1L).otherwise(0L)).as("n_seen"),
           sum(col("p_ppb")).as("s_ppb"))
      .select(col("doc_id"), col("n_bigrams"), col("n_seen"),
        expr("s_ppb div n_bigrams").as("xlm_score_ppb"),
        (col("n_seen").cast("double") / col("n_bigrams")).as("seen_frac"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-style importance resampling — the data-SELECTION step that
    * sits on top of [[crossLmScore]]: train a bigram LM on the TARGET
    * slice (the domain to upsample — DSIR's p_target) and one on the
    * whole raw pool (the proposal p_raw), weight every document by
    * the capped integer ratio of its mean per-bigram probability
    * under the two models, and accept it iff a deterministic hash
    * draw lands under the weight — so target-like text survives at
    * ~full rate while off-domain text thins in proportion to how
    * unlike the target it reads. Determinism end to end: both
    * probabilities floor-quantize to integer ppb (the q135
    * discipline), the weight is a pure-BIGINT capped ratio in ppm,
    * and the acceptance draw is xxhash64(doc_id) mod 1e6 — the same
    * avalanche chain the q94/q227 oracles replay bit-exact — so
    * resampling is reproducible row-for-row and ingest-order-free.
    *
    * Scale: both prob tables are DISTINCT-POOL-BIGRAM-bounded and
    * assembled model-side (pool bigrams left-join the target counts),
    * so the corpus-sized bigram stream pays exactly ONE (w1,w2) join
    * against a combined table AQE broadcasts when small; the per-doc
    * rollup and source rollup are ordinary map-side-combinable
    * shuffles. No all-pairs, no driver loop — the only `count()`s are
    * the two vocab scalars (model-bounded). */
  def importanceResample(documents: DataFrame,
                         targetSource: String = "src0"): DataFrame = {
    val occ = documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"), col("source"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) ELSE array() END")).as("p"))
      .select(col("doc_id"), col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint(false) // model fits + the scoring join share one tokenize
    val tgt = occ.filter(col("source") === targetSource)
    val tBi = tgt.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("tc2"))
    val tUni = tgt.groupBy(col("w1")).agg(count(lit(1)).as("tc1"))
    val tV = tgt.select(explode(array(col("w1"), col("w2"))).as("w")).distinct().count()
    val pUni = occ.groupBy(col("w1")).agg(count(lit(1)).as("pc1"))
    val pV = occ.select(explode(array(col("w1"), col("w2"))).as("w")).distinct().count()
    // ONE combined prob table over the pool's distinct bigrams: the
    // proposal covers every scored bigram by construction (it trained
    // on the pool), the target side backs off through Laplace zeros.
    val probs = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pc2"))
      .join(tBi, Seq("w1", "w2"), "left")
      .join(pUni, Seq("w1"))
      .join(tUni, Seq("w1"), "left")
      .select(col("w1"), col("w2"),
        floor((coalesce(col("tc2"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("tc1"), lit(0L)) + lit(tV)).cast("double") * lit(1.0e9))
          .as("t_ppb"),
        floor((col("pc2") + lit(1L)).cast("double") /
              (col("pc1") + lit(pV)).cast("double") * lit(1.0e9)).as("p_ppb"))
    occ.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("t_ppb")).as("st"), sum(col("p_ppb")).as("sp"))
      .withColumn("ratio_ppm", least(lit(1000000L),
        expr("(st div n_bigrams) * 1000000 div greatest(sp div n_bigrams, CAST(1 AS BIGINT))")))
      .withColumn("accepted",
        pmod(xxhash64(col("doc_id")), lit(1000000L)) < col("ratio_ppm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_scored"),
           sum(col("ratio_ppm")).as("s_ratio"),
           sum(when(col("accepted"), 1L).otherwise(0L)).cast("long").as("n_accepted"),
           sum(when(col("accepted"), col("n_bigrams")).otherwise(0L)).cast("long")
             .as("accepted_bigrams"))
      .select(col("source"), col("n_scored"),
        expr("s_ratio div n_scored").as("mean_ratio_ppm"),
        col("n_accepted"), col("accepted_bigrams"))
      .orderBy(col("source"))
  }

  /** The stored n-gram LM — [[ngramLmScore]]'s model half as a
    * PERSISTED artifact: three corpus-bounded count tables (bigram
    * counts, left-context counts, distinct word types). All three are
    * ADDITIVE/mergeable, which is what makes the incremental
    * maintenance path ([[lmModelMerge]], q245) exact: counts merge by
    * keyed sum, vocab by distinct union — merge ≡ full retrain,
    * bit-for-bit. */
  final case class LmModel(bigrams: DataFrame, contexts: DataFrame,
                           vocab: DataFrame)

  /** The tokenize→bigram explode shared by the LM family. Callers
    * materialize it once per consumer set (the sharedSpans lesson).
    * private[engine]: the takedown ledger (q273) counts a removal
    * batch's bigram occurrences for its mass-conservation probe. */
  private[engine] def bigramStream(documents: DataFrame): DataFrame =
    documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) ELSE array() END")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Fit-count test hook: a persisted-model load must perform ZERO
    * retokenize fits. */
  private[graft] var lmFits: Int = 0

  /** Fit the LM count tables over a corpus — one tokenize scan
    * (checkpointed, shared by the three aggregates). */
  def lmModel(documents: DataFrame): LmModel = {
    synchronized { lmFits += 1 }
    val occ = bigramStream(documents).localCheckpoint(false)
    LmModel(
      occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")),
      occ.groupBy(col("w1")).agg(count(lit(1)).as("c1")),
      occ.select(explode(array(col("w1"), col("w2"))).as("w")).distinct())
  }

  /** INCREMENTAL LM maintenance — fold a new batch of reference text
    * into the STORED model without re-scanning the stored corpus: the
    * batch's own counts merge by keyed sum (existing bigrams
    * accumulate, novel ones insert), vocab grows by distinct union.
    * Because every table is additive, the merged model is EXACTLY the
    * model a full retrain over stored ∪ batch would fit — the q243
    * merge≡rebuild contract, certified through scoring in the q245
    * oracle. Per-batch cost: one batch tokenize scan + model-bounded
    * merges. */
  def lmModelMerge(stored: LmModel, batch: DataFrame): LmModel = {
    val occ = bigramStream(batch).localCheckpoint(false)
    LmModel(
      stored.bigrams
        .unionByName(occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")))
        .groupBy(col("w1"), col("w2")).agg(sum(col("c2")).as("c2")),
      stored.contexts
        .unionByName(occ.groupBy(col("w1")).agg(count(lit(1)).as("c1")))
        .groupBy(col("w1")).agg(sum(col("c1")).as("c1")),
      stored.vocab
        .unionByName(occ.select(explode(array(col("w1"), col("w2"))).as("w")))
        .distinct())
  }

  /** INVERSE incremental LM maintenance (r15, VERDICT r14 missing #1
    * — the q245 merge≡retrain machinery run BACKWARDS for takedown):
    * subtract the removed documents' counts from the stored model
    * without re-scanning the stored corpus. Because every table is
    * additive, stored − removed is EXACTLY the model a full retrain
    * over documents-minus-removal would fit: bigram/context rows
    * decrement by the removal batch's own counts and vanish at zero;
    * the vocab rebuilds as the distinct word set of the corrected
    * bigram table (a word is in the retrain vocab iff it has ≥ 1
    * surviving bigram occurrence — exactly the corrected table's key
    * set, so no vocab-side counting is ever needed). Per-takedown
    * cost: one removal-batch tokenize scan + model-bounded joins. */
  def lmModelSubtract(stored: LmModel, removedDocs: DataFrame): LmModel = {
    val occ = bigramStream(removedDocs).localCheckpoint(false)
    val big = stored.bigrams
      .join(occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("rc2")),
        Seq("w1", "w2"), "left_outer")
      .withColumn("c2", col("c2") - coalesce(col("rc2"), lit(0L)))
      .filter(col("c2") > 0)
      .select(col("w1"), col("w2"), col("c2"))
      .localCheckpoint(false) // the vocab rebuild + every reader
    val ctx = stored.contexts
      .join(occ.groupBy(col("w1")).agg(count(lit(1)).as("rc1")),
        Seq("w1"), "left_outer")
      .withColumn("c1", col("c1") - coalesce(col("rc1"), lit(0L)))
      .filter(col("c1") > 0)
      .select(col("w1"), col("c1"))
    val voc = big.select(explode(array(col("w1"), col("w2"))).as("w")).distinct()
    LmModel(big, ctx, voc)
  }

  /** Score documents under a (possibly merged) model — exactly
    * [[ngramLmScore]]'s smoothing and determinism discipline
    * (Laplace p=(c2+1)/(c1+V), floor-quantized ppb, pure-BIGINT
    * per-doc mean), with the model EXTERNAL: scoring a batch touches
    * only the batch's bigram stream plus model-bounded joins. The
    * inner probability join is lossless whenever the model covers the
    * scored text (true by construction after [[lmModelMerge]]). */
  def lmScoreWith(model: LmModel, documents: DataFrame): DataFrame = {
    val occ = bigramStream(documents).localCheckpoint(false)
    val vocab = model.vocab.count()
    val probs = model.bigrams.join(model.contexts, "w1")
      .select(col("w1"), col("w2"),
        floor((col("c2") + lit(1L)).cast("double") /
              (col("c1") + lit(vocab)).cast("double") * lit(1.0e9)).as("p_ppb"))
    occ.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("p_ppb")).as("s_ppb"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s_ppb div n_bigrams").as("lm_score_ppb"))
      .orderBy(col("doc_id"))
  }

  /** Per-document importance verdicts under EXTERNAL models —
    * [[importanceResample]]'s scoring half with the two LMs passed in
    * (stored artifacts or carried streaming state) instead of fit
    * inline: capped integer-ppm target/pool probability ratio and the
    * deterministic xxhash64 acceptance draw per document. Both sides
    * back off through Laplace zeros (left joins + coalesce), so docs
    * with bigrams outside either model score instead of dropping.
    * Identical arithmetic to the q251 rollup — TextDedupSpec asserts
    * the two forms agree doc-for-doc on the same corpus.
    *
    * Scale: batch-sized bigram stream, four model-bounded joins (the
    * two (w1,w2) joins share one shuffle key, AQE broadcasts small
    * models), one map-side-combinable per-doc rollup. */
  def importanceVerdicts(target: LmModel, pool: LmModel,
                         documents: DataFrame): DataFrame = {
    val occ = bigramStream(documents).localCheckpoint(false)
    val tV = target.vocab.count()
    val pV = pool.vocab.count()
    occ
      .join(target.bigrams.withColumnRenamed("c2", "tc2"), Seq("w1", "w2"), "left")
      .join(target.contexts.withColumnRenamed("c1", "tc1"), Seq("w1"), "left")
      .join(pool.bigrams.withColumnRenamed("c2", "pc2"), Seq("w1", "w2"), "left")
      .join(pool.contexts.withColumnRenamed("c1", "pc1"), Seq("w1"), "left")
      .withColumn("t_ppb", floor(
        (coalesce(col("tc2"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("tc1"), lit(0L)) + lit(tV)).cast("double") * lit(1.0e9)))
      .withColumn("p_ppb", floor(
        (coalesce(col("pc2"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("pc1"), lit(0L)) + lit(pV)).cast("double") * lit(1.0e9)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(col("t_ppb")).as("st"), sum(col("p_ppb")).as("sp"))
      .withColumn("ratio_ppm", least(lit(1000000L),
        expr("(st div n_bigrams) * 1000000 div greatest(sp div n_bigrams, CAST(1 AS BIGINT))")))
      .select(col("doc_id"), col("n_bigrams"), col("ratio_ppm"),
        (pmod(xxhash64(col("doc_id")), lit(1000000L)) < col("ratio_ppm")).as("accepted"))
  }

  /** The persisted LM model — its three count tables are
    * [[Artifacts]] tables keyed by the documents' identity: one
    * corpus scan, ever, then readers load them with zero refits. */
  def lmModelFor(documents: DataFrame): LmModel = {
    lazy val m = lmModel(documents)
    def stored(part: String)(build: => DataFrame) =
      Artifacts.table(s"lm_$part", Nil, Seq(documents))(build)
    LmModel(stored("bi")(m.bigrams), stored("ctx")(m.contexts), stored("vocab")(m.vocab))
  }

  /** Distinctive-terms report — per-source vocabulary that is
    * OVER-represented relative to the whole corpus, scored by
    * frequency lift: (tf_in_source / tokens_in_source) divided by
    * (tf_global / tokens_global). The log-free cousin of TF-IDF
    * (same ranking intent, no transcendental in the score — every
    * division is a correctly-rounded IEEE op on exact BIGINT counts,
    * so the rounded score is bit-stable in any engine; ln() is not
    * correctly rounded and has no such guarantee). `minCount` floors
    * the global frequency so one-off typos can't top the chart.
    * Top-k per source by (lift desc, w) — word-count-shaped
    * aggregates plus a per-source window over the (already tiny)
    * qualifying-term frame. The output is the corpus card's "what is
    * this source about" panel. */
  def distinctiveTerms(documents: DataFrame, k: Int = 5,
                       minCount: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = documents
      .select(col("source"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
    val tfSw = words.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf_sw"))
      .localCheckpoint(false)
    val perSource = tfSw.groupBy(col("source")).agg(sum(col("tf_sw")).as("toks_s"))
    val perWord = tfSw.groupBy(col("w")).agg(sum(col("tf_sw")).as("tf_g"))
      .filter(col("tf_g") >= minCount)
    // global token mass over ALL words (the filter above prunes the
    // candidate terms, not the denominator)
    val tot = perSource.agg(sum(col("toks_s")).as("toks_g"))
    val scored = tfSw
      .join(perWord, "w") // inner: drops sub-minCount words
      .join(perSource, "source")
      .crossJoin(broadcast(tot))
      .withColumn("lift", (
        (col("tf_sw").cast("double") / col("toks_s")) /
        (col("tf_g").cast("double") / col("toks_g"))))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift").desc, col("w"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("w"), col("tf_sw"), col("tf_g"),
        col("lift"))
      .orderBy(col("source"), col("rk"))
  }

  /** Per-DOCUMENT top-k keywords by frequency lift — the doc-tagging /
    * retrieval-preview companion of [[distinctiveTerms]] (same
    * transcendental-free TF-IDF-cousin score, per doc instead of per
    * source): lift = (tf_dw / len_d) / (tf_g / toks_g), `minCount`
    * floors the global frequency so hapax typos can't tag a doc.
    * Word-count-shaped aggregates (all doc-keyed joins co-partition);
    * the rank window is consumed ONLY under rk ≤ k, so Spark plans
    * WindowGroupLimit — per-partition top-k heaps, no full per-doc
    * sort materialization. */
  def docKeywords(documents: DataFrame, k: Int = 3, minCount: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tfDw = documents
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf_dw"))
      .localCheckpoint(false) // doc masses, word masses, and scoring read it
    val perDoc = tfDw.groupBy(col("doc_id")).agg(sum(col("tf_dw")).as("toks_d"))
    val perWord = tfDw.groupBy(col("w")).agg(sum(col("tf_dw")).as("tf_g"))
      .filter(col("tf_g") >= minCount)
    val tot = perDoc.agg(sum(col("toks_d")).as("toks_g"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("lift").desc, col("w"))
    tfDw.join(perWord, "w")
      .join(perDoc, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("lift", (
        (col("tf_dw").cast("double") / col("toks_d")) /
          (col("tf_g").cast("double") / col("toks_g"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w"), col("tf_dw"), col("tf_g"), col("lift"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Term co-occurrence PMI pairs — the collocation report a corpus
    * card quotes ("deep learning", "new york"): among the top
    * `vocabK` document-frequency terms, the pairs whose DOCUMENT
    * co-occurrence most exceeds independence. The PMI exponential
    * e^pmi = P(a,b)/(P(a)P(b)) is computed as the single-division
    * rational (c_ab · n_docs) / (c_a · c_b) — exact BIGINT numerator
    * and denominator, one IEEE division, no logs (the q144
    * transcendental-free-lift discipline) — so ranking and values
    * replay bit-exact in any engine.
    *
    * Scale: the VOCABULARY CAP is the whole design — per-doc term
    * sets are intersected with a broadcast top-vocabK vocab before
    * the pair self-join, so per-doc fanout is ≤ vocabK²/2 regardless
    * of document length, and the candidate-pair space is
    * vocab-bounded (vocabK choose 2), never corpus-sized. The final
    * top-k cut is TakeOrdered over that bounded set with a total
    * order (lift desc, wa, wb). */
  def pmiPairs(documents: DataFrame, vocabK: Int = 100, minPair: Long = 5,
               k: Int = 50): DataFrame = {
    val docTerms = documents
      .select(col("doc_id"), explode(array_distinct(
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)"))).as("w"))
      .localCheckpoint(false) // df rollup + both pair sides read it
    val dfw = docTerms.groupBy(col("w")).agg(count(lit(1)).cast("long").as("df"))
      .localCheckpoint(false) // vocab cut + marginal lookups
    val vocab = dfw.orderBy(col("df").desc, col("w")).limit(vocabK)
      .select(col("w"))
    val inVocab = docTerms.join(broadcast(vocab), "w")
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val pairs = inVocab.select(col("doc_id"), col("w").as("wa"))
      .join(inVocab.select(col("doc_id"), col("w").as("wb")), "doc_id")
      .filter(col("wa") < col("wb"))
      .groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).cast("long").as("c_ab"))
      .filter(col("c_ab") >= minPair)
    pairs
      .join(dfw.select(col("w").as("wa"), col("df").as("c_a")), "wa")
      .join(dfw.select(col("w").as("wb"), col("df").as("c_b")), "wb")
      .crossJoin(broadcast(nDocs))
      .withColumn("lift", (
        (col("c_ab") * col("n_docs")).cast("double") /
        (col("c_a") * col("c_b")).cast("double")))
      .orderBy(col("lift").desc, col("wa"), col("wb"))
      .limit(k)
      .select(col("wa"), col("wb"), col("c_ab"), col("c_a"), col("c_b"),
        col("lift"))
      .orderBy(col("wa"), col("wb"))
  }

  /** Corpus boilerplate report — the flip side of [[sharedSpans]]'
    * postings cap: the grams the cap EXCLUDES from pair generation
    * (headers, footers, templates — any passage stamped across the
    * corpus) are exactly the signal a curation run wants reported.
    * Top-k word n-grams by total postings with their document
    * coverage; total order (postings desc, gram) makes the cut
    * deterministic. Word-count shaped — gram explode in the scan
    * projection, ONE shuffle with map-side partial aggregation,
    * TakeOrdered top-k — so the report costs the same as a token
    * count at any corpus size. The short-doc guard lives inside the
    * projection (empty-array explode), per the pushdown audit. */
  def boilerplateGrams(documents: DataFrame, n: Int = 3, minPostings: Long = 5,
                       k: Int = 20): DataFrame =
    documents
      .select(col("doc_id"),
        expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"CASE WHEN size(toks) >= $n THEN transform(sequence(1, size(toks) - ${n - 1}), " +
        s"i -> array_join(slice(toks, i, $n), ' ')) ELSE array() END")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_postings"), countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_postings") >= minPostings)
      .orderBy(col("n_postings").desc, col("gram"))
      .limit(k)

  /** Zipf head report — the corpus token-frequency distribution a
    * corpus card quotes: the top-k tokens with occurrence count,
    * document frequency, corpus share, and cumulative share (how much
    * of the token stream the head covers — the number that decides
    * stopword lists and vocabulary budgets). The heavy work is one
    * word-count-shaped shuffle (map-side combine carries distinct
    * tokens per partition, never the stream); the top-k cut is
    * TakeOrdered with a total order (count desc, token), and ONLY the
    * k surviving rows enter the unpartitioned rank/cumsum window — a
    * k-row frame, not a corpus-wide single-partition sort. Shares
    * divide exact BIGINTs at the end, so the values are
    * order-independent and oracle-exact. */
  def zipfReport(documents: DataFrame, k: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
    // counts feeds BOTH the top-k cut and the corpus total (Σ n_occ ==
    // token-stream length, so the total needs no second text scan);
    // checkpoint the vocabulary-scale frame once (the q113 lesson)
    val counts = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .localCheckpoint(false)
    val total = counts.agg(sum(col("n_occ")).as("total"))
    val order = Window.orderBy(col("n_occ").desc, col("tok"))
    counts.orderBy(col("n_occ").desc, col("tok")).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("tok_rank", row_number().over(order).cast("long"))
      .withColumn("cum_occ",
        sum(col("n_occ")).over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("tok_rank"), col("tok"), col("n_occ"), col("n_docs"),
        (col("n_occ").cast("double") / col("total")).as("share"),
        (col("cum_occ").cast("double") / col("total")).as("cum_share"))
      .orderBy(col("tok_rank"))
  }

  /** Vocabulary growth — Heaps-law saturation over ingest order: the
    * doc-id space is cut into `buckets` equal ranges and each bucket
    * reports how many NEVER-SEEN-BEFORE tokens it contributes plus
    * the cumulative vocabulary size — the curve that says whether
    * more of the same corpus still buys new vocabulary (plateau ⇒
    * the source is mined out; a straight line ⇒ keep ingesting).
    * "First seen" is a min aggregate per token (map-side combine, one
    * word-count shuffle); the bucket cut is pure integer arithmetic
    * on (doc_id, max_id) — no rank, no global sort — and the cumsum
    * window runs over `buckets` rows only. */
  def vocabGrowth(documents: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = documents.agg(max(col("doc_id")).as("max_id"))
    val firstSeen = documents
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val newPerBucket = firstSeen.crossJoin(broadcast(maxId))
      .select(expr(s"(first_doc * $buckets) DIV (max_id + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_tokens"))
    val docsPerBucket = documents.select(col("doc_id")).crossJoin(broadcast(maxId))
      .select(expr(s"(doc_id * $buckets) DIV (max_id + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    docsPerBucket.join(newPerBucket, Seq("bucket"), "left")
      .select(col("bucket").cast("long").as("bucket"), col("n_docs"),
        coalesce(col("n_new_tokens"), lit(0L)).as("n_new_tokens"))
      .withColumn("vocab_size",
        sum(col("n_new_tokens")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket"))
  }

  /** Inter-source vocabulary overlap — the corpus redundancy map: for
    * every pair of sources, the Jaccard similarity of their distinct
    * token vocabularies. High-overlap pairs are mirror/scrape
    * duplicates a mixing design should collapse; low-overlap pairs
    * are the diversity the mix is buying. One shuffle builds the
    * distinct (source, token) dictionary; the pair counts join that
    * dictionary with itself ON TOKEN, so per-token fanout is bounded
    * by the source dimension (catalog-scale, hundreds), never by
    * document or token-stream size — the same bounded-self-join shape
    * as the LSH band join. Pairs with zero shared vocabulary drop out
    * (their Jaccard is 0 by definition); emitted pairs are the upper
    * triangle, source_a < source_b. */
  def sourceVocabOverlap(documents: DataFrame): DataFrame = {
    // the dictionary feeds three consumers (sizes + both join sides);
    // checkpoint it once — dictionary-scale, far below the token stream
    val vocab = documents
      .select(col("source"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
      .distinct()
      .localCheckpoint(false)
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("n_vocab"))
    vocab.select(col("source").as("source_a"), col("tok"))
      .join(vocab.select(col("source").as("source_b"), col("tok")), "tok")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("n_vocab").as("n_vocab_a")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n_vocab").as("n_vocab_b")), "source_b")
      .withColumn("jaccard", (col("n_common").cast("double") /
        (col("n_vocab_a") + col("n_vocab_b") - col("n_common"))))
      .select(col("source_a"), col("source_b"), col("n_vocab_a"),
        col("n_vocab_b"), col("n_common"), col("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Token frequency-of-frequencies spectrum (count-of-counts) with
    * integer Good-Turing adjusted counts — the table behind
    * Good-Turing smoothing, vocabulary-size (Heaps/Zipf) modeling and
    * hapax-rate QC: row r says "n_types words occur exactly r times,
    * carrying n_tokens of corpus mass", and r*_ppm = (r+1)·n_{r+1}·10⁶
    * DIV n_r is the classic adjusted count as an exact integer (the
    * smoothed-LM companion of [[ngramLmScore]]'s +1 smoothing). Scale:
    * one word-count shuffle (the q123 Zipf shuffle) then a
    * SPECTRUM-sized rollup — the spectrum has at most max-freq rows,
    * thousands at any corpus size, so the self-join for n_{r+1} is
    * dimension-scale work. */
  def tokenFrequencySpectrum(documents: DataFrame): DataFrame = {
    val spec = documents
      .select(explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).cast("long").as("n_types"))
      .localCheckpoint(false) // both sides of the r+1 self-join
    spec
      .join(spec.select((col("freq") - 1).as("freq"), col("n_types").as("n_next")),
        Seq("freq"), "left_outer")
      .na.fill(0L, Seq("n_next"))
      .withColumn("n_tokens", col("freq") * col("n_types"))
      .withColumn("gt_rstar_ppm", expr("((freq + 1) * n_next * 1000000) DIV n_types"))
      .select(col("freq").cast("long").as("freq"), col("n_types"),
        col("n_tokens").cast("long").as("n_tokens"), col("gt_rstar_ppm"))
      .orderBy(col("freq"))
  }

  /** Sketch-estimated source-pair vocabulary similarity — the scale
    * path for [[sourceVocabOverlap]] (q125): instead of joining the
    * full per-source vocabularies pairwise (Σ vocab² terms at many
    * sources), each source compresses to a `lanes`-value MinHash
    * signature over its DISTINCT word set — one rollup, signatures
    * are |sources|·lanes rows and MERGEABLE (min is associative, so
    * per-shard partials union losslessly, the q188 posture). The
    * estimated Jaccard is the per-lane agreement rate; banding on the
    * signature turns all-pairs into candidate generation exactly as
    * doc-level MinHash does. Word identity travels as the 32-bit
    * md5-prefix key, so lane keys (wh·128 + lane < 2³⁹) never
    * overflow and the per-lane hash replays through the proven XXH64
    * chain in the oracle. */
  def sourceVocabMinhash(documents: DataFrame, lanes: Int = 64): DataFrame = {
    require(lanes >= 1 && lanes <= 128, s"lane keys pack as wh*128+lane; got $lanes")
    val vocab = documents
      .select(col("source"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
      .distinct()
      .select(col("source"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("wh"))
    val sigs = vocab
      .select(col("source"), col("wh"),
        explode(expr(s"sequence(0, ${lanes - 1})")).as("lane"))
      .withColumn("h", xxhash64(col("wh") * 128 + col("lane")))
      .groupBy(col("source"), col("lane")).agg(min(col("h")).as("sig"))
      .localCheckpoint(false) // both sides of the pair join
    sigs.select(col("source").as("source_a"), col("lane"), col("sig").as("sig_a"))
      .join(sigs.select(col("source").as("source_b"), col("lane"), col("sig").as("sig_b")), "lane")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(col("sig_a") === col("sig_b"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("est_jaccard", (col("n_agree").cast("double") / lanes))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Sentence-level exact dedup — boilerplate removal at sentence
    * granularity (the sub-document form of [[DedupOps.exactDedup]]):
    * a sentence's FIRST occurrence in the corpus (min (doc_id,
    * position)) is kept; every later occurrence — cross-document
    * footer spam or within-document repetition — is dropped, and the
    * doc is reassembled from its surviving sentences in original
    * order. The keeper is a min-STRUCT aggregate keyed by sentence,
    * not a window: partial aggregation combines map-side, so a
    * boilerplate sentence stamped into millions of documents costs
    * one record per upstream partition at the shuffle — no hot
    * sentence-partition skew, the same reason exactDedup aggregates
    * rather than windows. Join back is on the same sentence key
    * (co-partitioned). Emits per doc the sentence tally and the
    * fingerprint of the cleaned text. */
  def sentenceDedup(documents: DataFrame): DataFrame = {
    // the positioned-sentence frame feeds the keeper aggregate AND the
    // join back — checkpoint it once (the q113 multi-consumer lesson)
    val sent = documents
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
      .toDF("doc_id", "pos0", "s")
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("s"))
      .localCheckpoint(false)
    val keeper = sent.groupBy(col("s"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
    sent.join(keeper, "s")
      .withColumn("kept",
        col("doc_id") === col("k.doc_id") && col("pos") === col("k.pos"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("pos"), col("s"))))),
            x => x.getField("s")),
          ". ")).as("clean_fp"))
      .withColumn("n_dropped", (col("n_sentences") - col("n_kept")).cast("long"))
      .select(col("doc_id"), col("n_sentences"), col("n_kept"),
        col("n_dropped"), col("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Learned-stopword ratio — the language-agnostic quality signal
    * CCNet-style filters use when no curated stopword list exists:
    * the corpus's own Zipf head ([[zipfReport]]'s top-k tokens) IS
    * the stopword list, and each document is scored by the share of
    * its tokens drawn from that head. Natural prose sits in a mid
    * band; keyword-stuffed or glitch documents score near 0, boiler-
    * plate near 1. The stopword set is k rows by construction, so
    * the explicit broadcast is bounded — the join adds no shuffle to
    * the token stream. */
  def stopwordRatio(documents: DataFrame, k: Int = 30): DataFrame = {
    val stop = zipfReport(documents, k).select(col("tok")).withColumn("is_stop", lit(true))
    val counts = documents
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("tok"))
      .join(broadcast(stop), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("is_stop"), 1L).otherwise(0L)).as("n_stop"))
    documents.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_stop"), lit(0L)).as("n_stop"))
      .withColumn("stop_ratio",
        (col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1L))))
      .orderBy(col("doc_id"))
  }

  /** Per-language length gate — outlier-length filtering with
    * thresholds LEARNED per language (a fixed global bound is wrong
    * when languages tokenize at different densities): per lang, the
    * p10/p90 token-count quantiles via the GK sketch (exact here —
    * accuracy exceeds the distinct count; the q90/quantile_disc
    * contract), then one threshold join back (lang is a tiny
    * dimension — AQE broadcasts it) classifying each doc short/keep/
    * long. Reports the per-language gate tally; no global sort, no
    * per-lang window — the quantile is a sketch aggregate, so the
    * hot 'en' partition never materializes in one task. */
  def langLengthGate(documents: DataFrame, lo: Double = 0.1, hi: Double = 0.9): DataFrame = {
    // the per-doc length frame (3 narrow columns) feeds the sketch agg
    // AND the classify join — checkpoint it so the text scan runs once
    val toks = documents.select(col("doc_id"), col("lang"),
      size(expr(s"regexp_extract_all(text, '$tokenRe', 0)")).cast("long").as("n_tokens"))
      .localCheckpoint(false)
    val thresholds = toks.groupBy(col("lang"))
      .agg(expr(s"percentile_approx(n_tokens, $lo, 100000)").as("p_lo"),
           expr(s"percentile_approx(n_tokens, $hi, 100000)").as("p_hi"))
    toks.join(thresholds, "lang")
      .withColumn("cls",
        when(col("n_tokens") < col("p_lo"), "short")
          .when(col("n_tokens") > col("p_hi"), "long")
          .otherwise("keep"))
      .groupBy(col("lang"))
      .agg(max(col("p_lo")).as("p_lo"), max(col("p_hi")).as("p_hi"),
        count(lit(1)).as("n_docs"),
        sum(when(col("cls") === "keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cls") === "short", 1L).otherwise(0L)).as("n_short"),
        sum(when(col("cls") === "long", 1L).otherwise(0L)).as("n_long"))
      .withColumn("kept_frac",
        (col("n_kept").cast("double") / col("n_docs")))
      .orderBy(col("lang"))
  }

  /** Merge-candidate discovery — the distributed counting core of one
    * BPE/WordPiece merge round: frequency of ADJACENT unit pairs
    * across the corpus, top-k by count. Run here at word level; the
    * in-word character-level round a tokenizer trainer iterates is
    * the SAME plan over finer units. Pairs explode from the token
    * array in the scan projection (one text pass — the zero/one-token
    * guard lives inside the projection per the pushdown audit), then
    * ONE shuffle on the pair key with map-side combine, then
    * TakeOrdered for the top-k; total order (count desc, pair) makes
    * the cut deterministic. At 100 TB this is a word-count-shaped
    * job — the shuffle carries only distinct pairs per partition. */
  def bpeMergePairs(documents: DataFrame, k: Int = 20): DataFrame =
    documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)").as("toks"))
      .select(explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
        "i -> struct(toks[i-1] AS l, toks[i] AS r)) ELSE array() END")).as("p"))
      .select(col("p.l").as("tok_left"), col("p.r").as("tok_right"))
      .groupBy(col("tok_left"), col("tok_right"))
      .agg(count(lit(1)).as("n_pair"))
      .orderBy(col("n_pair").desc, col("tok_left"), col("tok_right"))
      .limit(k)

  /** BPE vocabulary learning — `rounds` actual merge rounds at
    * character level, the tokenizer-training loop itself (q106 counts
    * ONE round at word level; this iterates the real thing). State is
    * the distinct-WORD table (word frequency + current unit split),
    * never the corpus: the text is read once to build it, and every
    * round is (1) a pair-count over units weighted by word frequency —
    * one word-count-shaped shuffle, (2) a top-1 best pair with a
    * total-order tie-break — a ONE-ROW driver step, the same bounded
    * iteration shape as KMeans, and (3) a per-word unit rewrite that
    * merges the best pair left-to-right non-overlapping via a
    * delimiter-string fold (greedy BPE semantics: in "aaa" the merge
    * (a,a) produces [aa, a]). `localCheckpoint` per round caps the
    * lineage like the CC loop. Deterministic end to end, so the
    * DuckDB oracle replays every round unrolled (q108). At 100 TB the
    * word table is the corpus's distinct-token set — millions of
    * rows, not terabytes — and each round touches only it.
    *
    * Returns the merge schedule (round, tok_left, tok_right, n_pair)
    * and the FINAL word table (w, freq, units), so
    * [[bpeVocabReportFromState]] applies the learned vocabulary
    * without re-running the rounds. Consumers read the stored pair
    * ([[bpeMergesFor]], [[bpeWordsFor]]). */
  private[graft] def bpeLearnState(documents: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val s = documents.sparkSession
    import s.implicits._
    var cur = documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("units"))
      .localCheckpoint(false)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // top-1 of the weighted pair counts: bounded single-row collect
      val best = cur
        .select(col("freq"), explode(expr(
          "CASE WHEN size(units) >= 2 THEN transform(sequence(1, size(units) - 1), " +
          "i -> struct(units[i-1] AS l, units[i] AS r)) ELSE array() END")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, rr, n) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rr, n))
        cur = cur.withColumn("units", expr(mergeRewriteExpr(l, rr)))
          .localCheckpoint(false)
        r += 1
      }
    }
    (merges.result().toDF("round", "tok_left", "tok_right", "n_pair")
      .orderBy(col("round")), cur)
  }

  /** One greedy left-to-right merge applied to a `units` array
    * column: fold units into a '|'-delimited string, gluing x onto
    * acc when acc's LAST UNIT is `l` and x is `rr`; '|' can never
    * occur inside a unit (units stay within [a-z0-9_]), so the unit
    * boundary test is exact. The units are spliced into SQL
    * expression text — only safe because tokenRe confines them to
    * [a-z0-9_]; the require makes a future tokenRe change
    * (apostrophes, quotes) fail loudly instead of corrupting the
    * expression. Shared by the training loop and [[bpeSegmentCost]]'s
    * inference-side replay. */
  private def mergeRewriteExpr(l: String, rr: String): String = {
    require(l.matches("[a-z0-9_]+") && rr.matches("[a-z0-9_]+"),
      s"BPE unit escapes [a-z0-9_]+ — unsafe to interpolate: '$l', '$rr'")
    s"CASE WHEN size(units) <= 1 THEN units ELSE " +
    s"split(aggregate(slice(units, 2, size(units) - 1), units[0], " +
    s"(acc, x) -> CASE WHEN (acc = '$l' OR endswith(acc, '|$l')) AND x = '$rr' " +
    s"THEN concat(acc, x) ELSE concat(acc, '|', x) END), '[|]') END"
  }

  /** Inference-side tokenization cost — the OTHER direction from
    * [[bpeVocabReportFromState]]: segment ANY corpus (including words never
    * seen in training) under a stored merge list by replaying the
    * merges, in order, over each distinct word's character split —
    * greedy BPE application, which is exactly what a tokenizer does
    * at encode time. The merge list is round-bounded (k rows — a
    * driver-side Seq, the q108 artifact), each merge is one codegen'd
    * fold over the DISTINCT-word frame, and the corpus pays one token
    * explode + one broadcast-sized join — the same word-table
    * discipline as training: text is never re-scanned per merge.
    * Emits per-document token count, unit cost and units-per-token —
    * the loader-facing "how expensive is this doc to tokenize"
    * signal. Deterministic → hash-match oracle (q118). */
  def bpeSegmentCost(documents: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .distinct()
      .withColumn("units",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val applied = merges.foldLeft(words) { case (df, (l, rr)) =>
      df.withColumn("units", expr(mergeRewriteExpr(l, rr)))
    }
    val voc = applied.select(col("w"), size(col("units")).cast("long").as("n_units_w"))
    documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("doc_id"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .join(voc, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_units_w")).as("n_units"))
      .withColumn("units_per_token",
        (col("n_units").cast("double") / col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer DRIFT report (q240) — the stored vocabulary scored
    * against a NEW batch, per source: token volume, unit cost under
    * the FROZEN merge schedule (batch words segment through the
    * stored merges — unseen words fall back toward characters, so
    * cost is defined for any input), the resulting units-per-token,
    * and the novel-word occurrence share as integer ppm (words the
    * training corpus never saw). Rising units-per-token or novel_ppm
    * against the stored baseline (q111) is the re-train signal a
    * tokenizer owner watches. Batch-only work: the merge fold runs
    * on the batch's DISTINCT words, occurrences join that word-sized
    * frame, the training vocabulary enters as one distinct-word
    * column for the novelty flag. */
  def bpeDriftReport(batch: DataFrame, merges: Seq[(String, String)],
                     trainedWords: DataFrame): DataFrame = {
    val words = batch
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .distinct()
      .withColumn("units",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
    val applied = merges.foldLeft(words) { case (df, (l, rr)) =>
      df.withColumn("units", expr(mergeRewriteExpr(l, rr)))
    }
    val voc = applied.select(col("w"), size(col("units")).cast("long").as("n_units_w"))
    val known = trainedWords.select(col("w")).distinct()
      .withColumn("known", lit(true))
    batch
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("source"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .join(voc, "w")
      .join(known, Seq("w"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("n_units_w")).as("n_units"),
           sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("units_per_token",
        col("n_units").cast("double") / col("n_tokens"))
      .withColumn("novel_ppm", expr("n_novel * 1000000L div n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_units"),
        col("units_per_token"), col("n_novel"), col("novel_ppm"))
      .orderBy(col("source"))
  }

  /** The stored BPE merge schedule, in round order — q108's output.
    * A trained vocabulary is a corpus ARTIFACT (what a shard manifest
    * or corpus card cites as tokenizer provenance), not something a
    * report query re-derives: round 7 ran the training loop twice per
    * suite pass, once for q108's merges and again inside q111's
    * vocabulary application (VERDICT r7 #3). Both stored relations are
    * distinct-token-sized — millions of rows at 100 TB, never
    * corpus-sized — and keyed by (rounds, the documents' identity), so
    * later queries in the same process reload the vocabulary with zero
    * training rounds. */
  def bpeMergesFor(documents: DataFrame, rounds: Int = 5): DataFrame =
    bpeStateFor(documents, rounds)._1.orderBy(col("round"))

  /** The stored final (w, freq, units) word table under the learned
    * merges — the vocabulary q111 applies. */
  def bpeWordsFor(documents: DataFrame, rounds: Int = 5): DataFrame =
    bpeStateFor(documents, rounds)._2

  /** Both BPE tables; when both are missing they build from ONE
    * [[bpeLearnState]] run. */
  private def bpeStateFor(documents: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    lazy val learned = bpeLearnState(documents, rounds)
    (Artifacts.table("bpe_merges", Seq(rounds), Seq(documents))(learned._1),
     Artifacts.table("bpe_words", Seq(rounds), Seq(documents))(learned._2))
  }

  /** Apply the learned vocabulary back to the corpus — the other half
    * of tokenizer training: per `lang`, how many token occurrences
    * the stream has, how many UNITS they cost under the k-merge
    * vocabulary, and the resulting units-per-token compression. The
    * per-word unit counts come from [[bpeLearnState]]'s final word
    * table (computed once, a distinct-word-sized frame); applying
    * them to the corpus is one token explode + one broadcast-sized
    * join + one rollup — the vocabulary's value is measured against
    * the corpus it trains on without any per-doc re-merging. `words`
    * is a PREBUILT final word table (w, freq, units) — the stored
    * [[bpeWordsFor]] table: applying a vocabulary must not retrain
    * it. */
  def bpeVocabReportFromState(documents: DataFrame, words: DataFrame): DataFrame = {
    val vocabWords = words
      .select(col("w"), size(col("units")).cast("long").as("n_units_w"))
    documents
      .filter(lower(col("text")).rlike("[a-z0-9_]"))
      .select(col("lang"),
        explode(expr(s"regexp_extract_all(lower(text), '$tokenRe', 0)")).as("w"))
      .join(vocabWords, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_units_w")).as("n_units"))
      .withColumn("units_per_token",
        (col("n_units").cast("double") / col("n_tokens")))
      .orderBy(col("lang"))
  }
}
