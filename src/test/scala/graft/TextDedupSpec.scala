package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine._
import graft.functions.RollingHash

/** North-star text/dedup semantics the oracle can't express:
  * custom-expression values, sketch behavior on injected
  * near-duplicates. */
class TextDedupSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  // Ad-hoc corpora run the build bodies the stored forms wrap
  // (DedupOps.*For persists these same bodies over a corpus's one
  // sketch pass), so a test writes no catalog table per corpus.
  private def sketchesOf(corpus: DataFrame): DataFrame =
    DedupOps.docSketches(corpus).localCheckpoint(false)
  private def sigsOf(sketches: DataFrame): DataFrame =
    sketches.filter(col("sig").isNotNull).select(col("doc_id"), col("sig"))
  private def simsOf(sketches: DataFrame): DataFrame =
    sketches.filter(col("simhash").isNotNull).select(col("doc_id"), col("simhash"))
  private def minhashPairsOf(corpus: DataFrame): DataFrame =
    DedupOps.minhashPairsFromSigs(sigsOf(sketchesOf(corpus)))
  private def simhashPairsOf(corpus: DataFrame, maxBucket: Int = 10000): DataFrame =
    DedupOps.simhashPairsFromSigs(simsOf(sketchesOf(corpus)), maxBucket = maxBucket)
  private def clustersOf(corpus: DataFrame, edges: DataFrame): DataFrame =
    DedupOps.connectedComponentsAuto(corpus.select(col("doc_id")), edges)

  test("rolling_hash expression matches an independent implementation") {
    val rows = TextOps.rollingFingerprints(docs).limit(20).collect()
    val texts = docs.select(col("doc_id"), col("text")).limit(20).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
    rows.foreach { r =>
      assert(r.getLong(1) == ref(texts(r.getLong(0))), s"doc ${r.getLong(0)}")
    }
  }

  test("rolling_hash works through whole-stage codegen and SQL") {
    RollingHash.register(spark)
    docs.limit(5).createOrReplaceTempView("rh_docs")
    val viaSql = spark.sql("SELECT rolling_hash(text) FROM rh_docs ORDER BY doc_id")
      .collect().map(_.getLong(0)).toSeq
    val viaDf = TextOps.rollingFingerprints(docs).limit(5)
      .collect().map(_.getLong(1)).toSeq
    assert(viaSql == viaDf)
  }

  test("quality score stays in [0,1]") {
    val qualities = TextOps.qualityScore(docs).select(col("quality")).collect().map(_.getDouble(0))
    assert(qualities.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("exact dedup drops an injected duplicate, keeps the lower id") {
    val dup = docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val withDup = docs.unionByName(dup)
    val kept = DedupOps.exactDedup(withDup)
    assert(kept.count() == docs.count())
    assert(kept.filter(col("doc_id") === 1000000L).count() == 0)
  }

  test("minhash LSH flags an injected near-duplicate with high estimate") {
    val base = docs.filter(col("doc_id") === 0)
    val nearDup = base
      .withColumn("doc_id", lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" tail")))
    val pairs = minhashPairsOf(docs.unionByName(nearDup))
      .filter(col("doc_i") === 0 && col("doc_j") === 1000000L)
      .collect()
    assert(pairs.length == 1, "near-dup pair should survive LSH banding")
    assert(pairs.head.getDouble(2) > 0.5, s"estimate ${pairs.head.getDouble(2)} too low")
  }

  test("simhash banding finds an injected duplicate at hamming 0 (full corpus, no cap)") {
    val dup = docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(1000000L))
    val pairs = simhashPairsOf(docs.unionByName(dup))
      .filter(col("doc_i") === 0 && col("doc_j") === 1000000L)
      .collect()
    assert(pairs.length == 1 && pairs.head.getLong(2) == 0L,
      "identical text must share every band bucket and score hamming 0")
  }

  test("simhash banding recall is exact within the pigeonhole bound") {
    // All surviving pairs obey the threshold, and a direct all-pairs
    // hamming scan over the signatures finds no pair <= maxHamming that
    // banding missed (the bands-1 >= maxHamming guarantee).
    val maxHamming = 3
    val found = DedupOps.simhashPairsFromSigs(simsOf(sketchesOf(docs)), bands = 4,
        maxHamming = maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(found.values.forall(_ <= maxHamming))
    val sigs = DedupOps.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val exhaustive = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= maxHamming
    } yield (i, j) -> h.toLong).toMap
    assert(found == exhaustive,
      s"banding must find exactly the exhaustive pairs: got ${found.size}, want ${exhaustive.size}")
  }

  test("simhash_pack signatures equal the explode+aggregator reference path") {
    val agg = udaf(graft.functions.SimHashAgg)
    val viaAgg = docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9_]+', 0)")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(agg(xxhash64(col("tok"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPack = DedupOps.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPack == viaAgg)
  }

  test("shingle_hashes equals the declarative substr+array_distinct+xxhash64 hash set") {
    graft.functions.ShingleHashes.register(spark)
    val viaExpr = docs
      .select(col("doc_id"), expr(s"shingle_hashes(text, ${DedupOps.ShingleSize})").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaSql = DedupOps.shingles(docs)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .collect().groupBy(_.getLong(0)).map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert(viaExpr == viaSql)
  }

  test("minhash_pack signatures equal the explode+aggregator reference path") {
    val agg = udaf(new graft.functions.MinHashAgg(32))
    val viaAgg = DedupOps.shingles(docs)
      .groupBy(col("doc_id"))
      .agg(agg(xxhash64(col("shingle"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val viaPack = DedupOps.minhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(viaPack == viaAgg)
  }

  test("normalized dedup collapses a reformatted copy that byte-exact dedup keeps") {
    val base = docs.filter(col("doc_id") === 0)
    val reformatted = base.withColumn("doc_id", lit(1000000L))
      .withColumn("text", upper(regexp_replace(col("text"), " ", "  ")))
    val corpus = docs.unionByName(reformatted)
    assert(DedupOps.exactDedup(corpus).filter(col("doc_id") === 1000000L).count() == 1,
      "case/whitespace drift must evade byte-exact hashing")
    assert(DedupOps.normalizedDedup(corpus).filter(col("doc_id") === 1000000L).count() == 0,
      "normalization must collapse the reformatted copy onto doc 0")
  }

  test("incremental dedup composes to whole-corpus dedup when batch ids follow existing ids") {
    val existing = docs.filter(col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    val whole = DedupOps.exactDedup(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val composed =
      DedupOps.exactDedup(existing).select("doc_id").collect().map(_.getLong(0)).toSet ++
      DedupOps.incrementalExactDedup(existing, batch)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(composed == whole,
      "dedup(existing) ∪ incremental(existing, batch) must equal dedup(existing ∪ batch)")
  }

  test("connected components throws rather than returning partial labels at maxIter") {
    import spark.implicits._
    val nodes = (0L to 40L).toDF("doc_id")
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(nodes, edges, maxIter = 2).count()
    }
  }

  test("connected components: transitive chains collapse, singletons stay") {
    import spark.implicits._
    val nodes = (0L to 6L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (4L, 5L)).toDF("doc_i", "doc_j")
    val cc = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("near-dedup sketch collapses injected near-duplicates into one canonical doc") {
    val base = docs.filter(col("doc_id") === 0)
    val nearDup = base
      .withColumn("doc_id", lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" tail")))
    val exactDup = base.withColumn("doc_id", lit(1000001L))
    val corpus = docs.unionByName(nearDup).unionByName(exactDup)
    val deduped = DedupOps.nearDedupSketchFromSketches(corpus, sketchesOf(corpus))
    val kept = deduped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!kept.contains(1000000L) && !kept.contains(1000001L),
      "injected duplicates must be absorbed, not kept")
    assert(kept(0L) >= 3L, s"doc 0 should absorb both injections, n_members=${kept.get(0L)}")
  }

  test("merged-bucket sketch pipeline equals the union of the standalone pair generators") {
    // nearDedupSketchFromSketches runs ONE self-join over the merged
    // minhash ∪ simhash bucket space; its clusters must be identical
    // to feeding nearDedup the two standalone pair sets unioned (q70's
    // nearDedupFromPairSets) — the merge is a shuffle optimization,
    // not a semantics change
    val sketches = sketchesOf(docs)
    val merged = DedupOps.nearDedupSketchFromSketches(docs, sketches)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mh = DedupOps.minhashPairsFromSigs(sigsOf(sketches))
      .filter(col("est_jaccard") >= 0.5).select(col("doc_i"), col("doc_j"))
    val sh = DedupOps.simhashPairsFromSigs(simsOf(sketches), maxHamming = 3)
      .select(col("doc_i"), col("doc_j"))
    val standalone = DedupOps.nearDedup(docs, mh.union(sh).distinct())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == standalone)
  }

  test("bloom decontamination never under-counts the exact join (no false negatives)") {
    import graft.engine.TextOps
    val corpus = docs.filter(col("doc_id") >= 50)
    val heldout = docs.filter(col("doc_id") < 50)
    val exact = TextOps.contaminationCheck(corpus, heldout)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val bloom = TextOps.bloomContaminationCheck(corpus, heldout)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (doc, (nExact, flaggedExact)) =>
      val (nBloom, flaggedBloom) = bloom(doc)
      assert(nBloom >= nExact, s"doc $doc: bloom $nBloom < exact $nExact — a false negative")
      assert(!flaggedExact || flaggedBloom, s"doc $doc flagged by exact but not by bloom")
    }
    // and at fpp 1e-3 the filter should be TIGHT on this corpus: the
    // totals agree almost everywhere
    val overcount = exact.count { case (doc, (n, _)) => bloom(doc)._1 != n }
    assert(overcount <= exact.size / 10, s"$overcount docs over-counted — fpp far off")
  }

  test("codegen bloom probe is bit-identical to the UDF probe and stays in codegen") {
    import graft.engine.TextOps
    import org.apache.spark.sql.functions.udf
    val corpus = docs.filter(col("doc_id") >= 50)
    val heldout = docs.filter(col("doc_id") < 50)
    val grams = TextOps.wordNgrams(heldout, 5).select(col("gram")).distinct()
    val bf = grams.stat.bloomFilter("gram", math.max(grams.count(), 1L), 0.001)
    val corpusGrams = TextOps.wordNgrams(corpus, 5)
    val viaExpr = corpusGrams
      .filter(graft.functions.BloomProbe.probe(spark, bf, col("gram")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val mightContain = udf((g: String) => bf.mightContain(g))
    val viaUdf = corpusGrams.filter(mightContain(col("gram")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaExpr == viaUdf, "expression probe must match the UDF probe bit-for-bit")
    // the probe must run inside whole-stage codegen with no UDF barrier
    val plan = TextOps.bloomContaminationCheck(corpus, heldout)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_probe"), s"expected the native probe in:\n$plan")
    assert(!plan.contains("UDF"), s"expected no Scala-UDF barrier in:\n$plan")
  }

  test("verified jaccard equals the exhaustive ground truth on shared pairs") {
    // exhaustive ground truth on the capped subset, same 0.15 threshold
    val truth = DedupOps.jaccardPairs(docs, threshold = 0.15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val sketches = sketchesOf(docs)
    val verified = DedupOps.verifiedJaccardPairsFromShared(sketches,
        DedupOps.minhashPairsFromSigs(sigsOf(sketches)), threshold = 0.15)
      .filter(col("doc_i") < 60 && col("doc_j") < 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.nonEmpty)
    // every verified candidate's exact jaccard matches the ground truth
    verified.foreach { case (pair, j) =>
      assert(truth.get(pair).contains(j), s"pair $pair: verified=$j truth=${truth.get(pair)}")
    }
  }

  test("degenerate-bucket guard drops flood buckets, leaves normal buckets intact") {
    // 30 exact copies of doc 0: every band bucket holding that content
    // has 31 members
    val base = docs.filter(col("doc_id") === 0)
    val flooded = (1 to 30).map(i => base.withColumn("doc_id", lit(1000000L + i)))
      .foldLeft(docs)(_ unionByName _)
    val floodIds = (Set(0L) ++ (1 to 30).map(i => 1000000L + i)).map(java.lang.Long.valueOf)
    def floodPairs(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("doc_i").isin(floodIds.toSeq: _*) &&
                col("doc_j").isin(floodIds.toSeq: _*)).count()
    // default cap (10k) leaves the 31-member bucket alone: all C(31,2)
    // identical pairs surface at hamming 0
    assert(floodPairs(simhashPairsOf(flooded)) == 31L * 30 / 2)
    // cap 10 excludes the flood bucket from pair generation entirely
    assert(floodPairs(simhashPairsOf(flooded, maxBucket = 10)) == 0L)
  }

  test("jaccard pairs are within [0,1] and thresholded") {
    val pairs = DedupOps.jaccardPairs(docs).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { r =>
      val j = r.getDouble(3); j >= 0.15 && j <= 1.0
    })
  }

  test("shared sketch pass: every family member equals its standalone form") {
    // the one-pass sketch frame (what docSketchesFor persists) carries
    // exactly the standalone per-sketch signatures, so q42/q43 and the
    // streaming probes (which sign with minhashSignatures) agree
    val sketches = sketchesOf(docs)
    def keyed(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(keyed(sigsOf(sketches)) == keyed(DedupOps.minhashSignatures(docs)))
    assert(keyed(simsOf(sketches)) == keyed(DedupOps.simhashSignatures(docs)))
    // the stored-pair-set form (what the catalog runs for q70) equals
    // the merged-bucket sketch pipeline
    val mhPairs = DedupOps.minhashPairsFromSigs(sigsOf(sketches)).localCheckpoint(false)
    val simPairs = DedupOps.simhashPairsFromSigs(simsOf(sketches)).localCheckpoint(false)
    assert(DedupOps.nearDedupFromPairSets(docs, mhPairs, simPairs).collect().toSeq ==
           DedupOps.nearDedupSketchFromSketches(docs, sketches).collect().toSeq)
  }

  test("incremental packing continues streams exactly and opens new ones at zero") {
    import spark.implicits._
    import graft.engine.CorpusOps
    val stored = Seq(
      (1L, "alpha beta gamma delta", "en", "s"),
      (2L, "epsilon zeta", "en", "s"),
      (3L, "uno dos tres", "es", "s")).toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (10L, "eta theta iota", "en", "s"),   // continues en mid-stream
      (11L, "kappa", "en", "s"),
      (12L, "ein zwei", "de", "s")          // OPENS de — base 0
    ).toDF("doc_id", "text", "lang", "source")
    val inc = CorpusOps.packSequencesIncremental(stored, batch, Seq("lang"), seqLen = 4)
      .collect().map(_.toString).toSeq
    val full = CorpusOps.packSequencesBy(stored.unionByName(batch), Seq("lang"), seqLen = 4)
      .filter(col("doc_id") >= 10L).collect().map(_.toString).toSeq
    assert(inc == full, s"incremental $inc != full-repack tail $full")
    // the en stream really continued mid-sequence: stored en mass = 6
    // tokens → doc 10 starts at offset 6 % 4 = 2 inside seq 1
    val d10 = CorpusOps.packSequencesIncremental(stored, batch, Seq("lang"), seqLen = 4)
      .filter(col("doc_id") === 10L).collect()(0)
    assert(d10.getLong(3) == 1L && d10.getLong(5) == 2L, s"doc 10 span: $d10")
    // the new stream starts at zero
    val d12 = CorpusOps.packSequencesIncremental(stored, batch, Seq("lang"), seqLen = 4)
      .filter(col("doc_id") === 12L).collect()(0)
    assert(d12.getLong(3) == 0L && d12.getLong(5) == 0L, s"doc 12 span: $d12")
  }

  test("sequence packing: contiguous spans per stream, offsets bounded, chunk count exact") {
    val seqLen = 2048
    val packed = CorpusOps.packSequences(Tables.documents(spark, sf), seqLen).collect()
    assert(packed.nonEmpty)
    packed.foreach { r =>
      val (nTok, start, end, off, nSeqs) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(nTok > 0 && off >= 0 && off < seqLen, s"offset $off out of range")
      assert(end >= start && nSeqs == end - start + 1)
      // the doc's tokens end exactly at offset+nTok within its span
      assert(start * seqLen + off + nTok - 1 == end * seqLen + ((off + nTok - 1) % seqLen))
    }
    // per stream: docs tile the concatenated token run with no gaps
    packed.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(_.getLong(1))
      var cum = 0L
      ordered.foreach { r =>
        assert(r.getLong(3) == cum / seqLen && r.getLong(5) == cum % seqLen,
          s"$lang doc ${r.getLong(1)}: span does not continue the stream")
        cum += r.getLong(2)
      }
      val lastEnd = ordered.last.getLong(4)
      assert(lastEnd == (cum - 1) / seqLen, s"$lang: final chunk count wrong")
    }
  }

  test("sequence manifest: every sequence full except each stream's last, pieces contiguous") {
    val seqLen = 2048
    val rows = CorpusOps.sequenceManifest(docs, seqLen).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((lang, seq), pieces) =>
      val ordered = pieces.sortBy(_._4)
      // pieces tile the sequence with no gaps or overlaps from offset 0
      ordered.foldLeft(0L) { case (expectOff, (_, _, _, off, n, _)) =>
        assert(off == expectOff, s"$lang seq $seq: piece at $off, expected $expectOff")
        assert(n > 0); off + n
      }
      val lastSeq = rows.filter(_._1 == lang).map(_._2).max
      val total = ordered.map(_._5).sum
      if (seq != lastSeq) assert(total == seqLen, s"$lang seq $seq holds $total tokens")
      else assert(total <= seqLen)
    }
    // cross-check against the packer: total tokens agree per doc
    val packed = CorpusOps.packSequences(docs, seqLen).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byDoc = rows.groupBy(t => (t._1, t._3)).view.mapValues(_.map(_._5).sum)
    byDoc.foreach { case (key, n) =>
      assert(packed(key) == n, s"doc $key: manifest pieces sum $n != packed ${packed(key)}")
    }
  }

  test("repetition rules fire in priority order with the right reasons") {
    import spark.implicits._
    val dupSent = (1 to 6).map(_ => "this sentence repeats forever and ever again").mkString(". ")
    val corpus = Seq(
      (1L, "one two", "en", "s"),                                    // too_short
      (2L, dupSent, "en", "s"),                                      // dup_sentences (despite top-token overlap)
      (3L, "spam " * 40 + "other words here now", "en", "s"),        // top_token
      (4L, ("aa bb " * 20).trim, "en", "s"),                         // low diversity only if share <= .2: aa share=.5 -> top_token
      (5L, "a perfectly ordinary sentence with many different words inside it today", "en", "s"),
      (6L, "!!! ??? --- ...", "en", "s")                               // ZERO tokens
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextOps.repetitionRuleFilter(corpus).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getString(5), r.getBoolean(6))).toMap
    assert(got(1L) == ("too_short", false))
    assert(got(2L) == ("dup_sentences", false), s"got ${got(2L)}")
    assert(got(3L) == ("top_token", false))
    assert(got(4L)._2 == false)
    assert(got(5L) == ("keep", true))
    // token-less docs must not vanish from the gate (they are the
    // most droppable rows of all): verdict too_short, n_tokens 0,
    // NULL signal columns
    assert(got(6L) == ("too_short", false), s"zero-token doc lost: $got")
    val r6 = rows.find(_.getLong(0) == 6L).get
    assert(r6.getLong(1) == 0L && r6.isNullAt(2) && r6.isNullAt(3) && r6.isNullAt(4))
  }

  test("shared spans: a copied passage is exactly L-n+1 hits on one diagonal") {
    import spark.implicits._
    val span = (1 to 30).map(i => s"tok$i").mkString(" ") // 30-token copied passage
    val corpus = Seq(
      (1L, s"alpha beta gamma $span delta epsilon", "en", "s"),
      (2L, s"completely different words here $span and unrelated tail content", "en", "s"),
      (3L, "no overlap with anything else at all in this one document body", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.sharedSpans(corpus, n = 10, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(4))).toMap
    // the 30-token span yields 30-10+1 = 21 grams, all on ONE diagonal
    assert(got.keySet == Set((1L, 2L)), s"only the copied-span pair should surface: $got")
    val (total, maxDiag) = got((1L, 2L))
    assert(maxDiag == 21L, s"expected 21 aligned hits, got $maxDiag")
    assert(total == 21L, s"no off-diagonal sharing expected, got $total")
  }

  test("shared spans: boilerplate flood is capped out and keep side is not force-broadcast") {
    import spark.implicits._
    // hot template passage shared by 200 docs — its grams have 200
    // postings, far over maxPostings=50, so the cap must exclude
    // them from pair generation entirely (without it: 200*199/2
    // flood pairs), while a genuine 2-doc copied span still surfaces
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val flood = (1L to 200L).map(i => (i, s"$boiler unique$i filler words", "en", "s"))
    val span = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = (flood ++ Seq(
      (1001L, s"alpha beta gamma $span delta epsilon", "en", "s"),
      (1002L, s"different intro words $span tail content here", "en", "s")
    )).toDF("doc_id", "text", "lang", "source")
    val df = TextOps.sharedSpans(corpus, n = 10, minShared = 3)
    // the keep (non-singleton gram) side scales with the corpus: the
    // LOGICAL plan must carry no forced broadcast hint (AQE may still
    // choose broadcast physically when the set is genuinely small)
    val logical = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!logical.contains("broadcast"), s"forced broadcast hint survives:\n$logical")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1001L, 1002L)), s"flood pairs leaked: ${got.keySet.take(5)}")
    assert(got((1001L, 1002L)) == 21L)
  }

  test("duplicate spans: the cut list covers exactly the copied passage") {
    import spark.implicits._
    val span = (1 to 30).map(i => s"tok$i").mkString(" ") // 30-token copied passage
    val corpus = Seq(
      (1L, s"alpha beta gamma $span delta epsilon", "en", "s"),
      (2L, s"completely different words here $span and unrelated tail content", "en", "s"),
      (3L, "no overlap with anything else at all in this one document body", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.duplicateSpans(corpus, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: span occupies token positions 4..33 → gram starts 4..24,
    // one island of 21 grams = exactly the 30 copied tokens; doc 2:
    // the same span at positions 5..34. Doc 3 gets no cut at all.
    assert(got.toSet == Set((1L, 4L, 21L, 30L), (2L, 5L, 21L, 30L)),
      s"cut list should be exactly the two copied passages: ${got.mkString(", ")}")
  }

  test("duplicate spans: within-doc repetition alone is not a cut; flood grams are capped out") {
    import spark.implicits._
    val rep = (1 to 10).map(_ => "again").mkString(" ")
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val flood = (1L to 200L).map(i => (i, s"$boiler unique$i filler words", "en", "s"))
    val span = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = (flood ++ Seq(
      (1001L, s"alpha beta gamma $span delta epsilon", "en", "s"),
      (1002L, s"different intro words $span tail content here", "en", "s"),
      // doc 1003 repeats a phrase internally but shares it with no
      // other doc: countDistinct >= 2 must keep it off the cut list
      (1003L, s"$rep $rep $rep padding words to extend this document body", "en", "s")
    )).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.duplicateSpans(corpus, n = 10)
      .collect().map(r => r.getLong(0)).toSet
    assert(got == Set(1001L, 1002L),
      s"only the cross-doc copied passage should be cut: $got")
  }

  test("incremental near-dedup drops near-copies of history, keeps novel docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val corpus = Seq(
      (1L, base, "en", "s"),                                  // history
      (2L, "completely different ancient text about rivers and mountains flowing", "en", "s"),
      (500L, base.replace("lazy", "sleepy"), "en", "s"),      // near-copy of 1 -> dropped
      (501L, "novel content never seen before in any earlier batch at all", "en", "s"),
      (502L, "tiny", "en", "s")                               // shingle-less-ish, no match -> kept
    ).toDF("doc_id", "text", "lang", "source")
    // the new batch's signatures band-join the stored history's
    val sigs = DedupOps.minhashSignatures(corpus)
    val got = DedupOps.incrementalNearDedupFromSigs(
      corpus.filter(col("doc_id") >= 100).select(col("doc_id")),
      sigs.filter(col("doc_id") >= 100), sigs.filter(col("doc_id") < 100))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got(500L)._2 == false && got(500L)._1 >= 1, "near-copy of history must drop")
    assert(got(501L) == (0L, true) && got(502L) == (0L, true), "novel docs must keep")
    // exact-incremental (q92) misses the reformatted copy — that gap
    // is this operator's reason to exist
    val exact = DedupOps.incrementalExactDedup(
      corpus.filter(col("doc_id") < 100), corpus.filter(col("doc_id") >= 100))
      .collect().map(_.getLong(0)).toSet
    assert(exact.contains(500L), "byte-exact dedup should NOT catch the near copy")
  }

  test("BPE learning: greedy non-overlapping merges, weighted counts, tie-break") {
    import spark.implicits._
    def learn(texts: Seq[String], rounds: Int): Seq[(Long, String, String, Long)] =
      TextOps.bpeLearnState(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
          .toDF("doc_id", "text", "lang", "source"), rounds)._1
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // "aaa" twice: round 1 merges (a,a) with weight 2 pairs x freq 2;
    // greedy left-to-right gives [aa, a], so round 2 merges (aa, a)
    assert(learn(Seq("aaa aaa"), 2) ==
      Seq((1L, "a", "a", 4L), (2L, "aa", "a", 2L)))
    // equal counts: (a,b) beats (b,c) on the pair tie-break
    assert(learn(Seq("ab bc"), 1) == Seq((1L, "a", "b", 1L)))
    // merged unit participates in later rounds: "abab" -> ab ab -> abab
    assert(learn(Seq("abab abab abab xy"), 2) ==
      Seq((1L, "a", "b", 6L), (2L, "ab", "ab", 3L)))
  }

  test("ngram LM score: hand-computed MLE means; common phrasing outscores outliers") {
    import spark.implicits._
    // corpus bigrams: (x,y)x2 from doc1, (y,x)x1 from doc1, (x,z)x1
    // from doc2 -> c1(x)=3, c1(y)=1, V={x,y,z}=3; Laplace:
    // p(x,y)=(2+1)/(3+3)=0.5, p(y,x)=(1+1)/(1+3)=0.5,
    // p(x,z)=(1+1)/(3+3)=0.333333333
    val corpus = Seq(
      (1L, "x y x y", "en", "s"),  // mean(0.5, 0.5, 0.5) = 0.5
      (2L, "x z", "en", "s")       // mean(1/3)           = 0.333333
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.engine.TextOps.ngramLmScore(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // scores are integer ppb: floor(p·1e9) per bigram, long-sum div n
    assert(got(1L) == (3L, 500000000L), s"doc1: ${got(1L)}")
    assert(got(2L) == (1L, 333333333L), s"doc2: ${got(2L)}")
    // discriminative direction under smoothing: a corpus-dominant
    // phrase outscores a one-off noise bigram (raw MLE inverts this —
    // the noise bigram's singleton context scores p=1, the pre-fix
    // failure mode)
    val mixed = ((1L to 10L).map(i => (i, "good morning world", "en", "s")) ++
      Seq((99L, "qq zz", "en", "s"))).toDF("doc_id", "text", "lang", "source")
    // V={good,morning,world,qq,zz}=5; phrase bigrams (10+1)/(10+5) =
    // 11/15 → floor ppb 733333333; noise (1+1)/(1+5) → 333333333
    val scored = graft.engine.TextOps.ngramLmScore(mixed).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scored(1L) == 733333333L && scored(99L) == 333333333L,
      s"smoothed scores off: ${scored(1L)}, ${scored(99L)}")
    assert(scored(99L) < scored(1L))
  }

  test("incremental LM merge equals a full retrain and scores by the updated smoothing") {
    import spark.implicits._
    val stored = Seq(
      (1L, "x y x y", "en", "s"),
      (2L, "x z", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (11L, "x y qq", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val merged = TextOps.lmModelMerge(TextOps.lmModel(stored), batch)
    val retrain = TextOps.lmModel(stored.unionByName(batch))
    def biSet(m: TextOps.LmModel) = m.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def ctxSet(m: TextOps.LmModel) = m.contexts.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def vSet(m: TextOps.LmModel) = m.vocab.collect().map(_.getString(0)).toSet
    assert(biSet(merged) == biSet(retrain), "bigram counts: merge ≡ retrain")
    assert(ctxSet(merged) == ctxSet(retrain), "context counts: merge ≡ retrain")
    assert(vSet(merged) == vSet(retrain), "vocab: merge ≡ retrain")
    // both merge branches live: (x,y) accumulated 2+1, (y,qq) inserted,
    // qq entered the vocab (and therefore the smoothing denominator)
    assert(biSet(merged).contains(("x", "y", 3L)))
    assert(biSet(merged).contains(("y", "qq", 1L)))
    assert(vSet(merged).contains("qq") && vSet(merged).size == 4)
    // scoring doc 11 ("x y qq") under the merged model, by hand:
    // c1(x)=4, c1(y)=2, V=4 → p(x,y)=(3+1)/(4+4)=.5, p(y,qq)=(1+1)/(2+4)=1/3;
    // ppb floor-sum 500000000+333333333, truncating div 2
    val got = TextOps.lmScoreWith(merged, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(11L) == ((2L, 416666666L)), s"batch score: ${got(11L)}")
  }

  test("persisted LM model loads with zero refits") {
    val t0 = TextOps.lmModelFor(docs)
    val fits0 = TextOps.lmFits
    val t1 = TextOps.lmModelFor(docs)
    assert(TextOps.lmFits == fits0, "memoized model must not refit")
    assert(t1.bigrams.count() == t0.bigrams.count() && t1.vocab.count() > 0)
    // the persisted model scores identically to the inline q120 build
    val viaModel = TextOps.lmScoreWith(t1, docs).collect().map(_.toString).toSeq
    val inline = TextOps.ngramLmScore(docs).collect().map(_.toString).toSeq
    assert(viaModel == inline, "stored-model scoring ≡ inline corpus scoring")
  }

  test("ingest funnel: every incremental stage drops its planted offender") {
    import spark.implicits._
    val stored = docs.filter(col("doc_id") < 450)
    val storedText = stored.orderBy(col("doc_id")).limit(1)
      .collect()(0).getString(1)
    val near = docs.filter(col("doc_id") === 10L)
      .collect()(0).getString(1) + " tail"
    val batch = Seq(
      (9000001L, storedText),                 // exact copy of STORED → stage 1
      (9000002L, "unique solid document with plenty of distinct words here"),
      (9000003L, "unique solid document with plenty of distinct words here"), // batch-internal dup → stage 1
      (9000004L, "spam spam spam spam spam spam"), // top-token gate → stage 2
      (9000005L, near))                       // near-dup of stored doc 10 → stage 3
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val got = CorpusOps.ingestFunnel(
        DedupOps.fingerprintStore(stored), DedupOps.minhashSignatures(stored),
        batch, DedupOps.minhashSignatures(batch)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(4)))).toMap
    assert(got(0L) == (("input", 5L, 0L)))
    assert(got(1L) == (("exact_vs_stored", 3L, 2L)),
      s"stored copy AND batch-internal dup must drop: ${got(1L)}")
    assert(got(2L) == (("quality_gate", 2L, 1L)),
      s"the repetition doc must drop: ${got(2L)}")
    assert(got(3L) == (("near_dup_vs_stored", 1L, 1L)),
      s"the stored near-dup must drop: ${got(3L)}")
  }

  test("packing provenance counts the boundary-shared sequence for both sources") {
    import spark.implicits._
    // seqLen 4: d1 (A, 4 toks) fills seq 0; d2 (B, 2 toks) starts
    // seq 1; d3 (A, 4 toks) finishes seq 1 and spills into seq 2 —
    // seq 1 mixes A and B across a packing boundary
    val corpus = Seq(
      (1L, "a b c d", "en", "A"),
      (2L, "e f", "en", "B"),
      (3L, "g h i j", "en", "A"))
      .toDF("doc_id", "text", "lang", "source")
    val got = CorpusOps.packingProvenance(corpus, seqLen = 4).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6)))).toMap
    assert(got("A") == ((2L, 8L, 3L, 1L, 0.8)),
      s"A: 2 docs, 8 tokens, seqs {0,1,2}, shares seq 1: ${got("A")}")
    assert(got("B") == ((1L, 2L, 1L, 1L, 0.2)),
      s"B: 1 doc, only seq 1, shared: ${got("B")}")
  }

  test("boilerplate report surfaces the stamped template at the top") {
    import spark.implicits._
    val footer = "contact support for help"  // 4 tokens -> 2 3-grams
    val corpus = ((1L to 30L).map(i => (i, s"doc body number$i words here. $footer", "en", "s")) ++
      Seq((99L, "entirely unrelated text with no template at all", "en", "s")))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextOps.boilerplateGrams(corpus, n = 3, minPostings = 5, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.forall(_._2 >= 30L),
      s"only the 30-doc footer grams clear the threshold: ${got.toSeq}")
    assert(got.exists(_._1 == "contact support for"), s"footer gram missing: ${got.toSeq}")
    assert(got.forall(_._3 == 30L), "doc coverage must count distinct docs")
  }

  test("BPE segmentation applies stored merges greedily, unseen words included") {
    import spark.implicits._
    // merges learned elsewhere; this corpus was never trained on
    val merges = Seq(("a", "b"), ("ab", "c"))
    val corpus = Seq(
      (1L, "abcab", "en", "s"),   // a b c a b -> ab c ab -> abc ab: 2 units
      (2L, "zzz abc", "en", "s"), // zzz unseen: 3 units; abc: 1 unit
      (3L, "ba", "en", "s")       // no (b,a) merge: 2 units
    ).toDF("doc_id", "text", "lang", "source")
    val got = graft.engine.TextOps.bpeSegmentCost(corpus, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (1L, 2L), s"abcab should cost 2 units, got ${got(1L)}")
    assert(got(2L) == (2L, 4L), s"zzz+abc should cost 3+1 units, got ${got(2L)}")
    assert(got(3L) == (1L, 2L), s"ba must not merge, got ${got(3L)}")
  }

  test("BPE vocab report: more merge rounds never inflate units-per-token") {
    def ratio(rounds: Int): Map[String, Double] =
      TextOps.bpeVocabReportFromState(docs, TextOps.bpeWordsFor(docs, rounds)).collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val r0 = ratio(0) // char-split baseline: avg word length
    val r3 = ratio(3)
    val r5 = ratio(5)
    r5.keys.foreach { lang =>
      assert(r0(lang) >= r3(lang) && r3(lang) >= r5(lang),
        s"$lang: merges must monotonically compress (${r0(lang)} -> ${r3(lang)} -> ${r5(lang)})")
      assert(r5(lang) >= 1.0, s"$lang: cannot compress below one unit per token")
    }
    assert(r5.exists { case (l, v) => v < r0(l) }, "five merges should compress something")
  }

  test("sequence decontamination: every sequence a flagged doc touches is dropped") {
    val corpus = docs.filter(col("doc_id") >= 50)
    val flagged = TextOps.contaminationCheck(corpus, docs.filter(col("doc_id") < 50))
      .filter(col("flagged")).collect().map(_.getLong(0)).toSet
    val mani = CorpusOps.sequenceManifest(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val seqs = CorpusOps.contaminatedSequences(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(seqs.nonEmpty && flagged.nonEmpty, "fixture should contain contamination")
    // drop flag = exactly the sequences touched by a flagged doc
    val touched = mani.filter(t => flagged(t._3)).map(t => (t._1, t._2)).toSet
    seqs.foreach { case (key, (_, nDocs, nToks, drop)) =>
      assert(drop == touched(key), s"seq $key drop flag mismatch")
      assert((nDocs > 0) == drop && (nToks > 0) == drop)
    }
    // contaminated token counts equal the manifest pieces of flagged docs
    val expectToks = mani.filter(t => flagged(t._3))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._4).sum)
    expectToks.foreach { case (key, n) =>
      assert(seqs(key)._3 == n, s"seq $key contaminated tokens ${seqs(key)._3} != $n")
    }
  }

  test("corpus mixing: weights respected, growth-stable, never rand-dependent") {
    val weights = Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.0, "src3" -> 2.25)
    val mixed = CorpusOps.mixCorpus(docs, weights).collect()
    // src0 dropped entirely; every doc's copy count is floor(w) or ceil(w)
    assert(!mixed.exists(_.getString(2) == "src0"))
    mixed.groupBy(r => (r.getLong(0), r.getString(2))).foreach { case ((id, src), copies) =>
      val w = weights.getOrElse(src, 1.0)
      val n = copies.map(_.getLong(4)).toSet // epochs 0..n-1, no dup epochs
      assert(n == (0L until copies.length.toLong).toSet, s"doc $id epochs not contiguous")
      assert(copies.length == math.floor(w).toLong || copies.length == math.ceil(w).toLong,
        s"doc $id from $src got ${copies.length} copies for weight $w")
    }
    // down-sampled source lands near its target rate
    val nSrc1 = mixed.count(_.getString(2) == "src1")
    val src1Total = docs.filter(col("source") === "src1").count()
    assert(nSrc1 > 0 && nSrc1 < src1Total, s"src1: $nSrc1 of $src1Total kept")
    // growth-stability: mixing HALF the corpus gives every surviving
    // doc the same copy count as in the full-corpus mix
    val halfIds = CorpusOps.mixCorpus(docs.filter(col("doc_id") < 250), weights)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val fullIds = mixed.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    halfIds.foreach { case (id, n) =>
      assert(fullIds(id) == n, s"doc $id changed copy count when corpus grew")
    }
  }

  test("gate accounting conserves the corpus; zero-token docs land in too_short") {
    import spark.implicits._
    val corpus = docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .union(Seq((900001L, "??? !!!", "en", "s")).toDF("doc_id", "text", "lang", "source"))
    val acct = graft.engine.TextOps.gateAccounting(corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val total = corpus.count()
    // every input doc is accounted for, exactly once
    assert(acct.values.map(_._1).sum == total, s"gate lost docs: $acct")
    assert(math.abs(acct.values.map(_._3).sum - 1.0) < 1e-4)
    // the injected token-less doc counts into too_short with 0 tokens
    assert(acct.contains("too_short") && acct("too_short")._1 >= 1)
    // verdict-level tallies agree with the per-doc gate
    val perDoc = graft.engine.TextOps.repetitionRuleFilter(corpus).collect()
      .groupBy(_.getString(5)).view.mapValues(_.length.toLong).toMap
    assert(acct.view.mapValues(_._1).toMap == perDoc)
  }

  test("mixed-corpus packing tiles each stream; up-sampled copies get their own spans") {
    val weights = Map("src0" -> 0.0, "src1" -> 0.5, "src2" -> 2.0, "src3" -> 2.25)
    val seqLen = 64
    val packed = CorpusOps.packMixedSequences(docs, weights, seqLen).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(packed.nonEmpty)
    // spans tile contiguously in (doc_id, epoch) order per stream:
    // each occupant starts exactly where the previous one's tokens end
    packed.groupBy(_._1).foreach { case (lang, rows) =>
      val ordered = rows.sortBy(t => (t._2, t._3))
      ordered.foldLeft(0L) { case (cum, (_, id, ep, n, s0, e1, off, nseq)) =>
        assert(s0 == cum / seqLen && off == cum % seqLen,
          s"$lang doc $id epoch $ep misaligned at cum $cum")
        assert(e1 == (cum + n - 1) / seqLen && nseq == e1 - s0 + 1)
        cum + n
      }
    }
    // an up-sampled doc occupies one DISTINCT span per epoch
    val bySrc2 = packed.filter(t => t._3 == 1L)
    assert(bySrc2.nonEmpty, "weight-2 source must produce epoch-1 copies")
    // mixed occupants equal the mix × token-bearing docs (inner join)
    val expect = CorpusOps.mixCorpus(docs, weights)
      .join(docs.filter(col("text").rlike("[^ ]")).select(col("doc_id")), "doc_id")
      .count()
    assert(packed.length.toLong == expect)
  }

  test("cross-split contamination: complete matrix, symmetric overlap, injected leak found") {
    import spark.implicits._
    // pick one doc_id per split by replaying the q94 bucketing
    val buckets = spark.range(0, 100)
      .select(col("id"), pmod(xxhash64(col("id")), lit(10)).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainId = buckets.collectFirst { case (id, b) if b < 8 => id }.get
    val testId = buckets.collectFirst { case (id, b) if b == 9 => id }.get
    val valId = buckets.collectFirst { case (id, b) if b == 8 => id }.get
    // vocabulary disjoint across docs EXCEPT the planted train/test leak
    val leak = "leaka leakb leakc leakd leake"
    val corpus = Seq(
      (trainId, leak, "en", "s"),
      (testId, leak + " extraf extrag", "en", "s"),
      (valId, "valq valw vale valr valt", "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val m = TextOps.crossSplitContamination(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // all 6 ordered pairs present, zero rows included
    assert(m.keySet == Set("train" -> "val", "train" -> "test", "val" -> "train",
      "val" -> "test", "test" -> "train", "test" -> "val"))
    // the planted 5-gram leaks train<->test in BOTH directions, once
    assert(m(("train", "test")) == ((1L, 1L, 1L)))
    assert(m(("test", "train")) == ((1L, 1L, 1L)))
    // val shares nothing; shared-gram counts are symmetric everywhere
    assert(m(("val", "train"))._2 == 0L && m(("val", "test"))._2 == 0L)
    m.keys.foreach { case (a, b) => assert(m((a, b))._3 == m((b, a))._3) }
  }

  test("zipf head: contiguous ranks, monotone coverage, true top token") {
    val rows = TextOps.zipfReport(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length.toLong))
    // shares ordered with rank; cumulative coverage monotone, <= 1
    val shares = rows.map(_.getDouble(4))
    assert(shares.zip(shares.tail).forall { case (a, b) => a >= b })
    val cum = rows.map(_.getDouble(5))
    assert(cum.zip(cum.tail).forall { case (a, b) => b >= a } && cum.last <= 1.0)
    // rank 1 is the corpus's true modal token
    val top = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[A-Za-z0-9_]+', 0)")).as("tok"))
      .groupBy(col("tok")).count().orderBy(col("count").desc, col("tok")).first()
    assert(rows.head.getString(1) == top.getString(0))
    assert(rows.head.getLong(2) == top.getLong(1))
  }

  test("temperature mixing: hand-computed α=1/2 shares on a two-source corpus") {
    import spark.implicits._
    // source A: 100 tokens (w=10); source B: 2500 tokens (w=50)
    val docA = (1 to 10).map(i => (i.toLong, Seq.fill(10)("aa").mkString(" "), "en", "A"))
    val docB = (11 to 35).map(i => (i.toLong, Seq.fill(100)("bb").mkString(" "), "en", "B"))
    val corpus = (docA ++ docB).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val rows = CorpusOps.temperatureMixWeights(corpus).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = rows("A"); val b = rows("B")
    assert(a.getLong(1) == 10L && a.getLong(2) == 100L && a.getLong(3) == 10L)
    assert(b.getLong(1) == 25L && b.getLong(2) == 2500L && b.getLong(3) == 50L)
    // raw 100/2600, temp 10/60 — the small source is boosted ~4.3×
    assert(math.abs(a.getDouble(4) - 100.0 / 2600) < 1e-12)
    assert(math.abs(a.getDouble(5) - 10.0 / 60) < 1e-12)
    assert(a.getDouble(6) > 4.3 && a.getDouble(6) < 4.34)
    assert(b.getDouble(6) < 1.0) // the big source is damped
    // quantization invariant holds on the fixture corpus too
    CorpusOps.temperatureMixWeights(docs).collect().foreach { r =>
      val (n, w) = (r.getLong(2), r.getLong(3))
      assert(w * w <= n && n < (w + 1) * (w + 1), s"${r.getString(0)}: $w vs $n")
    }
  }

  test("token budget: exact integer allocation, never over budget, epochs match") {
    import spark.implicits._
    // source A: 100 tokens (w=10); source B: 2500 tokens (w=50)
    val docA = (1 to 10).map(i => (i.toLong, Seq.fill(10)("aa").mkString(" "), "en", "A"))
    val docB = (11 to 35).map(i => (i.toLong, Seq.fill(100)("bb").mkString(" "), "en", "B"))
    val corpus = (docA ++ docB).toDF("doc_id", "text", "lang", "source")
    val rows = CorpusOps.tokenBudgetPlan(corpus, totalBudget = 200000L).collect()
      .map(r => r.getString(0) -> r).toMap
    // tot_w = 60: A gets 10*200000 div 60 = 33333, B gets 166666
    assert(rows("A").getLong(4) == 33333L && rows("B").getLong(4) == 166666L)
    assert(rows.values.map(_.getLong(4)).sum <= 200000L, "floor split must never overshoot")
    assert(math.abs(rows("A").getDouble(5) - 333.33) < 1e-9)   // epochs = 33333/100
    assert(rows("A").getDouble(6) == 1.0 && rows("B").getDouble(6) == 1.0,
      "a budget above the corpus size caps every rate at 1")
    // a 60-token budget forces single-pass subsampling: A keeps 10%
    val tight = CorpusOps.tokenBudgetPlan(corpus, totalBudget = 60L).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(tight("A").getLong(4) == 10L && math.abs(tight("A").getDouble(6) - 0.1) < 1e-9)
    assert(tight("B").getLong(4) == 50L && math.abs(tight("B").getDouble(6) - 0.02) < 1e-9)
  }

  test("token chunks: windows tile every document and reassemble it exactly") {
    import spark.implicits._
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, mk(100), "en", "s"), // 2 chunks: [1,64], [49,100]
      (2L, mk(64), "en", "s"),  // exactly one full chunk
      (3L, mk(5), "en", "s"),   // short doc -> one short chunk
      (4L, "!!! ...", "en", "s") // zero tokens -> no chunks
    ).toDF("doc_id", "text", "lang", "source")
    val rows = CorpusOps.chunkTokenWindows(corpus, chunkLen = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val byDoc = rows.groupBy(_._1)
    assert(!byDoc.contains(4L))
    assert(byDoc(2L).length == 1 && byDoc(2L).head._4 == 64L)
    assert(byDoc(3L).length == 1 && byDoc(3L).head._4 == 5L)
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((1L, 64L), (49L, 52L)))
    // stitching: chunk i overlaps its predecessor by chunkLen - stride
    // = 16 leading tokens; dropping them must reassemble the original
    val stitched = d1.zipWithIndex.flatMap { case ((_, _, _, _, txt), i) =>
      val toks = txt.split(" ").toSeq
      if (i == 0) toks else toks.drop(64 - 48)
    }
    assert(stitched.mkString(" ") == mk(100))
  }

  test("cross-LM score: in-domain text covers the reference, gibberish does not") {
    import spark.implicits._
    val refText = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val corpus = Seq(
      (1L, refText, "en", "R"),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "X"), // pure ref bigrams
      (3L, "zxq vbn mlk poi uyt rew qas dfg hjk", "en", "X")          // wholly novel
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextOps.crossLmScore(corpus, refSource = "R").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(2L).getDouble(4) == 1.0, "every bigram of doc 2 occurs in the reference")
    assert(rows(3L).getDouble(4) == 0.0, "no bigram of doc 3 occurs in the reference")
    assert(rows(2L).getLong(3) > rows(3L).getLong(3),
      "in-domain text must outscore gibberish (ppb-integer scores)")
    assert(rows(3L).getLong(2) == 0L && rows(2L).getLong(2) == rows(2L).getLong(1))
  }

  test("canonical by quality: the longest member represents the cluster") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "short", "en", "s"),
      (2L, "the longest document of the three by a clear margin", "en", "s"),
      (3L, "medium length text here", "en", "s"),
      (9L, "an unrelated singleton", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_i", "doc_j")
    val rows = DedupOps.canonicalByQualityFromClusters(corpus, clustersOf(corpus, edges)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // cluster label is the min doc_id (1); representative is doc 2
    assert(rows.toSet == Set((1L, 2L, 3L), (9L, 9L, 1L)),
      s"longest-member policy violated: ${rows.mkString(", ")}")
  }

  test("sentence dedup: later copies drop, first occurrence survives, docs reassemble") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha one. beta two. alpha one", "en", "s"), // internal repeat of sentence 1
      (2L, "beta two. gamma three", "en", "s"), // sentence 1 already seen in doc 1
      (3L, "delta four. delta four. delta four", "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.sentenceDedup(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // doc 1: 3 sentences, the internal repeat of "alpha one" dropped
    assert(rows(1L)._1 == 3L && rows(1L)._2 == 2L && rows(1L)._3 == 1L)
    assert(rows(1L)._4 == java.security.MessageDigest.getInstance("MD5")
      .digest("alpha one. beta two".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    // doc 2 loses "beta two" (first seen in doc 1), keeps its novel sentence
    assert(rows(2L)._2 == 1L && rows(2L)._3 == 1L)
    // doc 3 keeps exactly one of its three identical sentences
    assert(rows(3L)._1 == 3L && rows(3L)._2 == 1L)
    // corpus-wide: every distinct sentence survives exactly once
    val keptTotal = rows.values.map(_._2).sum
    assert(keptTotal == 4L) // alpha one, beta two, gamma three, delta four
  }

  test("stopword ratio: head-only docs score 1, tail-only docs score 0") {
    import spark.implicits._
    // 'the' dominates; r01..r40 are singletons — the learned top-30
    // list is 'the' + the 29 alphabetically-first singletons, so a
    // doc made of r31..r40 is pure tail
    val rare = (1 to 40).map(i => f"r$i%02d")
    val corpus = Seq(
      (1L, Seq.fill(50)("the").mkString(" "), "en", "s"),
      (2L, rare.take(30).mkString(" "), "en", "s"),
      (3L, rare.drop(30).mkString(" "), "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.stopwordRatio(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1L) == ((50L, 50L, 1.0))) // pure head
    assert(rows(3L) == ((10L, 0L, 0.0))) // pure tail: r31..r40 miss the top-30 cut
    assert(rows(2L)._2 == 29L) // r01..r29 made the list, r30 did not
    // fixture corpus: ratios bounded
    TextOps.stopwordRatio(docs).collect().foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("lang length gate: conserves docs, thresholds ordered, keep set matches bounds") {
    val rows = TextOps.langLengthGate(docs).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(3)).sum
    assert(total == docs.count())
    rows.foreach { r =>
      val (lang, pLo, pHi) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (n, kept, short, long) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(pLo <= pHi, s"$lang thresholds inverted")
      assert(kept + short + long == n, s"$lang gate lost docs")
      // recompute the keep count straight from the returned thresholds
      val expect = docs.filter(col("lang") === lang)
        .select(size(expr("regexp_extract_all(text, '[A-Za-z0-9_]+', 0)")).cast("long").as("t"))
        .filter(col("t") >= pLo && col("t") <= pHi).count()
      assert(kept == expect, s"$lang kept $kept != $expect")
    }
  }

  test("cluster histogram conserves docs; an injected triple lands at size 3") {
    import spark.implicits._
    val copied = "the same long passage of shared text repeated across documents"
    val corpus = Seq(
      (1L, copied, "en", "s"), (2L, copied, "en", "s"), (3L, copied, "en", "s"),
      (4L, "a completely different document body zzz", "en", "s"),
      (5L, "yet another unrelated qqq text entirely", "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val edges = DedupOps.jaccardPairs(corpus).select(col("doc_i"), col("doc_j"))
    val hist = DedupOps.clusterSizeHistogramFromClusters(clustersOf(corpus, edges)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hist == Map(1L -> ((2L, 2L)), 3L -> ((1L, 3L))))
    // fixture corpus: histogram conserves every document
    val fix = DedupOps.clusterSizeHistogramFromClusters(DedupOps.clustersFor(docs)).collect()
    assert(fix.map(_.getLong(2)).sum == docs.count())
  }

  test("lang agreement matrix conserves docs and matches the per-doc classifier") {
    val m = TextOps.langAgreementMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(m.values.map(_._1).sum == docs.count())
    // per declared lang, the shares sum to 1
    m.keys.groupBy(_._1).foreach { case (lang, keys) =>
      assert(math.abs(keys.map(k => m(k)._2).sum - 1.0) < 1e-4, s"$lang shares")
    }
    // the matrix is exactly the per-doc classifier, aggregated
    val perDoc = TextOps.langId(docs).select(col("doc_id"), col("lang_guess"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_guess")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.view.mapValues(_._1).toMap == perDoc)
  }

  test("vocab growth: first appearances bucket correctly, curve is cumulative") {
    import spark.implicits._
    // dense ids 0..9 → bucket == doc_id; tokens first appear at 0, 5, 9
    val corpus = (0L to 9L).map { i =>
      val text = if (i == 0L) "a" else if (i == 5L) "a b" else if (i == 9L) "a b c" else "a"
      (i, text, "en", "s")
    }.toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.vocabGrowth(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == (0L to 9L).toSet)
    assert(rows(0L) == ((1L, 1L, 1L))) // 'a' born in bucket 0
    assert(rows(5L) == ((1L, 1L, 2L))) // 'b' born in bucket 5
    assert(rows(9L) == ((1L, 1L, 3L))) // 'c' born in bucket 9
    assert(rows(3L)._2 == 0L && rows(3L)._3 == 1L)
    // fixture corpus: docs conserved, final vocab == corpus distinct count
    val fix = TextOps.vocabGrowth(docs).collect()
    assert(fix.map(_.getLong(1)).sum == docs.count())
    val distinctVocab = docs
      .select(explode(expr("regexp_extract_all(lower(text), '[A-Za-z0-9_]+', 0)")).as("t"))
      .distinct().count()
    assert(fix.last.getLong(3) == distinctVocab)
    assert(fix.map(_.getLong(3)).toSeq == fix.map(_.getLong(3)).sorted.toSeq)
  }

  test("source vocab overlap: clones hit jaccard 1, disjoint pairs drop out") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma", "en", "s1"),
      (2L, "beta alpha gamma alpha", "en", "s2"), // same vocab as s1
      (3L, "delta epsilon", "en", "s3"), // disjoint
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.sourceVocabOverlap(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(rows.keySet == Set("s1" -> "s2")) // s3 pairs: zero overlap, absent
    val r12 = rows(("s1", "s2"))
    assert(r12.getLong(2) == 3L && r12.getLong(3) == 3L && r12.getLong(4) == 3L)
    assert(r12.getDouble(5) == 1.0)
    // fixture corpus: jaccard in (0, 1], upper triangle only
    TextOps.sourceVocabOverlap(docs).collect().foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("doc keywords: lift promotes a doc's rare-globally word over the common one") {
    import spark.implicits._
    val corpus = Seq(
      (1L, ("zebra " * 10) + "common common", "en", "s"),
      (2L, ("common " * 20).trim, "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val got = TextOps.docKeywords(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getString(2), r.getDouble(5)))).toMap
    // lift(1, zebra) = (10/12)/(10/32); common = (2/12)/(22/32) — raw IEEE
    assert(got((1L, 1L)) == (("zebra", (10.0 / 12) / (10.0 / 32))))
    assert(got((1L, 2L)) == (("common", (2.0 / 12) / (22.0 / 32))))
    assert(got((2L, 1L)) == (("common", (20.0 / 20) / (22.0 / 32))))
    assert(got.size == 3)
  }

  test("rule ablation separates solo, shadowed, and first-attributed failures") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "", "en", "s"), // token-less: too_short, solo
      (2L, "a b c d x. a b c d x", "en", "s"), // dup sentences only (top share = 0.2, not >)
      (3L, "a a a a a a. a a a a a a", "en", "s"), // dup + top + low_div; verdict dup
      (4L, "alpha beta gamma delta epsilon zeta", "en", "s"), // keep
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val got = TextOps.ruleAblationReport(corpus).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("too_short") == ((1L, 1L, 1L, 0L)))
    assert(got("dup_sentences") == ((2L, 1L, 2L, 22L)))
    assert(got("top_token") == ((1L, 0L, 0L, 12L)), s"got ${got("top_token")}")
    assert(got("low_diversity") == ((1L, 0L, 0L, 12L)))
  }

  test("gram novelty: first sighting scores, repeats score zero, splits are exact") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f", "en", "s"), // both grams first-seen here -> 1e6
      (2L, "a b c d e f", "en", "s"), // full repeat -> 0
      (3L, "a b c d e x", "en", "s"), // one seen, one new -> 500000
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val got = TextOps.gramNovelty(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1000000L)))
    assert(got(2L) == ((2L, 0L, 0L)))
    assert(got(3L) == ((2L, 1L, 500000L)))
  }

  test("entity revenue conserves the part-joined fact total") {
    val li = Tables.lineitem(spark, sf)
    val part = Tables.part(spark, sf)
    val viaEntities = DedupOps.entityRevenue(li, DedupOps.entityGroups(part))
      .agg(sum(col("total_amount")), sum(col("n_items"))).head
    val direct = li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"),
        count(lit(1))).head
    assert(viaEntities.getLong(1) == direct.getLong(1), "item counts conserve")
    assert(math.abs(viaEntities.getDouble(0) - direct.getDouble(0)) < 1e-6,
      s"revenue conserves: $viaEntities vs $direct")
  }

  test("entity groups close transitively past the pairwise edit-distance radius") {
    import spark.implicits._
    // chain aaaa-aaab-aabb-abbb: ends differ by 3 edits (no pairwise
    // edge) yet the closure must group all four; 'zzzz' stays alone
    val part = Seq(
      (1L, "aaaa", "B1"), (2L, "aaab", "B1"), (3L, "aabb", "B1"), (4L, "abbb", "B1"),
      (5L, "zzzz", "B2"),
    ).toDF("p_partkey", "p_name", "p_brand")
    val got = DedupOps.entityGroups(part).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (1L to 4L).foreach(k => assert(got(k) == ((1L, 4L, "aaaa")), s"key $k: ${got(k)}"))
    assert(got(5L) == ((5L, 1L, "zzzz")))
  }

  test("cluster-aware split: no cluster straddles splits; moved is exactly the hash disagreement") {
    import org.apache.spark.sql.functions.{countDistinct, pmod, xxhash64}
    val edges = DedupOps.jaccardPairs(docs).select(col("doc_i"), col("doc_j"))
    val split = DedupOps.clusterAwareSplit(docs, edges).localCheckpoint(false)
    // the leakage-safety invariant: one split per cluster, always
    val straddlers = split.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(straddlers == 0L, "a near-dup cluster must never straddle splits")
    // every near-dup EDGE lands inside one split (the q122 leak, prevented)
    val crossEdges = edges
      .join(split.select(col("doc_id").as("doc_i"), col("split").as("split_i")), "doc_i")
      .join(split.select(col("doc_id").as("doc_j"), col("split").as("split_j")), "doc_j")
      .filter(col("split_i") =!= col("split_j")).count()
    assert(crossEdges == 0L)
    // moved accounting: true iff the doc's own hash disagrees — and
    // singletons (cluster_id == doc_id) never move
    val bad = split
      .withColumn("own_bucket", pmod(xxhash64(col("doc_id")), lit(10)))
      .withColumn("own_split", when(col("own_bucket") < 8, "train")
        .when(col("own_bucket") === 8, "val").otherwise("test"))
      .filter(col("moved") =!= (col("split") =!= col("own_split"))).count()
    assert(bad == 0L)
    assert(split.filter(col("cluster_id") === col("doc_id") && col("moved")).count() == 0L,
      "a singleton's cluster hash IS its doc hash — it cannot move")
  }

  test("split-keyed packing never mixes splits in a sequence; lang-only packing does") {
    import org.apache.spark.sql.functions.{countDistinct, explode, pmod, xxhash64}
    val docs2 = docs.withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(10)))
      .withColumn("split", when(col("bucket") < 8, "train")
        .when(col("bucket") === 8, "val").otherwise("test"))
      .localCheckpoint(false)
    def mixedSeqs(streamCols: Seq[String]): Long =
      CorpusOps.packSequencesBy(docs2, streamCols)
        .join(docs2.select(col("doc_id"), col("split").as("doc_split")), "doc_id")
        .withColumn("seq_id", explode(expr("sequence(start_seq, end_seq)")))
        .groupBy(streamCols.filterNot(_ == "split").map(col) :+ col("seq_id"): _*)
        .agg(countDistinct(col("doc_split")).as("n_splits"))
        .filter(col("n_splits") > 1).count()
    // the leak: lang-only streams concatenate train and test docs into
    // the same sequences on the real fixture
    assert(mixedSeqs(Seq("lang")) > 0L,
      "fixture must demonstrate the naive-packing leak")
    // the fix: keying the stream on (split, lang) makes a mixed
    // sequence impossible by construction
    val spl = CorpusOps.packSequencesBy(docs2, Seq("split", "lang"))
      .withColumn("seq_id", explode(expr("sequence(start_seq, end_seq)")))
      .groupBy(col("split"), col("lang"), col("seq_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(spl == 0L)
    // and each (split, lang) stream still tiles its token mass exactly
    // like q103: per-stream totals conserve
    val a = CorpusOps.packSequencesBy(docs2, Seq("split", "lang"))
      .groupBy(col("split"), col("lang"))
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")).as("tok"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val b = CorpusOps.packSequences(docs2.drop("split", "bucket"))
      .groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.sum(col("n_tokens")).as("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    b.foreach { case (lang, tok) =>
      assert(a.collect { case ((_, l), t) if l == lang => t }.sum == tok,
        s"token mass conserves across the re-keying for $lang")
    }
  }

  test("incremental split freezes history: adoption, fresh hashing, conflicts, no churn") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod, xxhash64}
    // stored: cluster {100,101} (label 100), singletons 200 and 300
    val storedDocs = Seq(100L, 101L, 200L, 300L).toDF("doc_id")
    val sEdges = Seq((100L, 101L)).toDF("doc_i", "doc_j")
    val stored = DedupOps.clusterAwareSplit(storedDocs, sEdges).localCheckpoint(false)
    val sMap = stored.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // batch: 10 bridges stored clusters 100 and 200; 11 attaches to
    // 300; {12,13} a batch-only pair; 14 isolated
    val cross = Seq((100L, 10L), (200L, 10L), (300L, 11L)).toDF("doc_i", "doc_j")
    val bEdges = Seq((12L, 13L)).toDF("doc_i", "doc_j")
    val batch = Seq(10L, 11L, 12L, 13L, 14L).toDF("doc_id")
    val got = DedupOps.incrementalClusterSplit(stored, cross, bEdges, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
    // the bridge adopts the MIN stored cluster's split; conflict iff
    // the two stored clusters hashed to different splits
    assert(got(10L)._1 == 100L && got(10L)._2 == sMap(100L)._2 &&
      got(10L)._3 == "adopted", s"${got(10L)}")
    assert(got(10L)._4 == (sMap(100L)._2 != sMap(200L)._2))
    assert(got(11L) == ((300L, sMap(300L)._2, "adopted", false)))
    // batch-only components hash fresh off their own min id — the
    // exact q227 rule — and members share the split
    def hashSplitOf(id: Long): String = Seq(id).toDF("x")
      .select(pmod(xxhash64(col("x")), lit(10)).as("b"))
      .select(when(col("b") < 8, "train").when(col("b") === 8, "val")
        .otherwise("test")).collect()(0).getString(0)
    assert(got(12L) == ((12L, hashSplitOf(12L), "hashed", false)))
    assert(got(13L) == ((12L, hashSplitOf(12L), "hashed", false)))
    assert(got(14L) == ((14L, hashSplitOf(14L), "hashed", false)))
    // WHY freezing matters: the full rerun relabels the merged
    // cluster to the new smaller batch id (10), rehashing — and
    // potentially moving — every stored member; the incremental form
    // cannot touch stored rows by construction
    val rerun = DedupOps.clusterAwareSplit(
        storedDocs.unionByName(batch),
        sEdges.unionByName(cross.select(col("doc_i"), col("doc_j"))).unionByName(bEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rerun(100L) == 10L && rerun(200L) == 10L,
      "the rerun relabels stored docs' cluster (the churn the incremental form prevents)")
  }

  test("incremental entities: a batch alias bridges two stored groups into one merged entity") {
    import spark.implicits._
    // stored: "aaaa"(1) and "abbb"(3) are 3 edits apart — two separate
    // groups; "zzzz"(5)+"zzzy"(6) one group; "mmmm"(7) a singleton
    val storedDim = Seq(
      (1L, "aaaa", "B1"), (3L, "abbb", "B1"),
      (5L, "zzzz", "B2"), (6L, "zzzy", "B2"),
      (7L, "mmmm", "B3"),
    ).toDF("p_partkey", "p_name", "p_brand")
    val stored = DedupOps.entityGroups(storedDim)
    // batch: "aabb"(10) is ≤2 edits from BOTH stored "a" groups — it
    // must bridge them; "mmmn"(12) extends 7; "qqqq"(11) is new
    val batch = Seq(
      (10L, "aabb", "B1"), (11L, "qqqq", "B4"), (12L, "mmmn", "B3"),
    ).toDF("p_partkey", "p_name", "p_brand")
    val got = DedupOps.incrementalEntityGroups(stored, storedDim, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6)))).toMap
    // the bridge: {1, 3, 10} fuse under entity 1 — 2 stored groups, 1
    // batch member, canonical name from the min key
    Seq(1L, 3L, 10L).foreach { k =>
      assert(got(k) == ((1L, 3L, 2L, 1L, "merged", "aaaa")), s"key $k: ${got(k)}")
    }
    // untouched stored group passes through verbatim
    Seq(5L, 6L).foreach { k =>
      assert(got(k) == ((5L, 2L, 1L, 0L, "unchanged", "zzzz")), s"key $k: ${got(k)}")
    }
    // extension and a batch-only entity
    Seq(7L, 12L).foreach { k =>
      assert(got(k) == ((7L, 2L, 1L, 1L, "extended", "mmmm")), s"key $k: ${got(k)}")
    }
    assert(got(11L) == ((11L, 1L, 0L, 1L, "new", "qqqq")))
    assert(got.size == 8)
  }

  test("incremental entities: a no-match batch leaves every stored group untouched") {
    import spark.implicits._
    val storedDim = Seq(
      (1L, "aaaa", "B1"), (2L, "aaab", "B1"), (5L, "zzzz", "B2"),
    ).toDF("p_partkey", "p_name", "p_brand")
    val stored = DedupOps.entityGroups(storedDim)
    // the batch shares no brand block with history — zero cross edges,
    // so NO stored group re-resolves and every batch row is new
    val batch = Seq((10L, "qqqq", "B9"), (11L, "qqqr", "B9"))
      .toDF("p_partkey", "p_name", "p_brand")
    val got = DedupOps.incrementalEntityGroups(stored, storedDim, batch).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(5)))).toMap
    assert(got(1L) == ((1L, "unchanged")) && got(2L) == ((1L, "unchanged")) &&
      got(5L) == ((5L, "unchanged")), s"$got")
    // the batch pair groups among itself and is 'new'
    assert(got(10L) == ((10L, "new")) && got(11L) == ((10L, "new")))
    assert(got.size == 5)
  }

  test("curation funnel reconciles stage by stage with the standalone operators") {
    val funnel = CorpusOps.curationFunnel(docs).collect()
    assert(funnel.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // monotone attrition and exact drop accounting
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) <= a.getLong(2) && b.getLong(3) <= a.getLong(3))
      assert(b.getLong(4) == a.getLong(2) - b.getLong(2), s"drop accounting: $a -> $b")
    }
    assert(funnel(0).getLong(4) == 0L)
    // stage counts reconcile with the standalone operators
    assert(funnel(0).getLong(2) == docs.count())
    assert(funnel(1).getLong(2) == DedupOps.exactDedup(docs).count())
  }

  test("production funnel over sketch edges: reconciles per stage and sees past the demonstrator cap") {
    // inject a near-dup of doc 70 — ABOVE jaccardPairs' maxDocId=60
    // demonstrator cap, so only the production (sketch edge) path can
    // catch it
    val nearDup = docs.filter(col("doc_id") === 70)
      .withColumn("doc_id", lit(1000000L))
      .withColumn("text", concat(col("text"), lit(" tail")))
    val corpus = docs.unionByName(nearDup).localCheckpoint(false)
    val sketchEdges = DedupOps.sketchEdgesFromSketches(sketchesOf(corpus))
    val demo = CorpusOps.curationFunnel(corpus).collect()
    val prod = CorpusOps.curationFunnel(corpus, Some(sketchEdges)).collect()
    // edge-independent stages agree between the two compositions
    Seq(0, 1).foreach { i =>
      assert(demo(i).getLong(2) == prod(i).getLong(2) &&
             demo(i).getLong(3) == prod(i).getLong(3),
        s"stage $i must not depend on the edge source")
    }
    // the production near-dup stage reconciles with the standalone
    // operators composed the same way
    val exactKeep = DedupOps.exactDedup(corpus).select(col("doc_id"))
    val roots = DedupOps.connectedComponents(corpus.select(col("doc_id")), sketchEdges)
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    assert(prod(2).getLong(2) == exactKeep.join(roots, "doc_id").count())
    // ...and it absorbs the injected dup the capped demonstrator CAN'T
    // see (doc 70 and its copy both sit above maxDocId=60): the copy
    // is a cluster member, not a root, on the sketch path only
    assert(roots.filter(col("doc_id") === 1000000L).count() == 0L,
      "sketch path must absorb the injected near-dup past the cap")
    val demoRoots = DedupOps.connectedComponents(
        corpus.select(col("doc_id")), DedupOps.jaccardPairs(corpus))
      .filter(col("doc_id") === col("cluster_id")).select(col("doc_id"))
    assert(demoRoots.filter(col("doc_id") === 1000000L).count() == 1L,
      "the capped demonstrator is blind above maxDocId — the copy survives it")
    // monotone attrition holds on the production path too
    prod.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) <= a.getLong(2) && b.getLong(3) <= a.getLong(3))
    }
  }

  test("dup training weights: cluster mass bounded by 1, singletons weigh full") {
    import spark.implicits._
    val corpus = (1L to 7L).map(i => (i, s"text $i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_i", "doc_j") // {1,2,3} + 4 singletons
    val got = DedupOps.dupTrainingWeightsFromClusters(clustersOf(corpus, edges)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 7)
    Seq(1L, 2L, 3L).foreach(d => assert(got(d) == ((3L, 333333L))))
    Seq(4L, 5L, 6L, 7L).foreach(d => assert(got(d) == ((1L, 1000000L))))
    // per-cluster mass never exceeds one document's worth
    got.values.groupBy(identity).foreach { case ((n, w), _) => assert(n * w <= 1000000L) }
  }

  test("contrastive triplets: cluster members anchor each other, negatives leave the cluster") {
    import spark.implicits._
    val corpus = (1L to 20L).map(i => (i, s"text $i", "en", "s"))
      .toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    // planted closure: {1,2,3} one cluster (1-2, 2-3), rest singletons
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_i", "doc_j")
    val got = CorpusOps.contrastiveTripletsFromClusters(clustersOf(corpus, edges)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L), "every cluster member anchors")
    // positive = smallest OTHER member
    assert(got.filter(_._1 == 1L).forall(_._2 == 2L))
    assert(got.filter(_._1 == 2L).forall(_._2 == 1L))
    assert(got.filter(_._1 == 3L).forall(_._2 == 1L))
    // negatives never land inside the anchor's cluster
    assert(got.forall(t => !Set(1L, 2L, 3L).contains(t._4)),
      s"negative drawn from the cluster: ${got.toSeq}")
    // at most nNeg draws per anchor, j in range
    got.groupBy(_._1).foreach { case (_, ts) => assert(ts.length <= 2) }
    assert(got.forall(t => t._3 == 0L || t._3 == 1L))
  }

  test("vocab minhash: identical vocab estimates 1, disjoint vocab estimates 0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma", "en", "s1"),
      (2L, "beta alpha gamma alpha", "en", "s2"), // same vocab as s1
      (3L, "delta epsilon zeta", "en", "s3"), // disjoint
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.sourceVocabMinhash(corpus).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(rows(("s1", "s2")) == 1.0)
    assert(rows(("s1", "s3")) == 0.0)
    assert(rows(("s2", "s3")) == 0.0)
    // fixture: every pair's estimate lands within 0.25 of q125's exact
    // jaccard (64 lanes -> se = sqrt(j(1-j)/64) <= 0.0625; 4 se)
    val exact = TextOps.sourceVocabOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    TextOps.sourceVocabMinhash(docs).collect().foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(math.abs(r.getDouble(3) - exact.getOrElse(key, 0.0)) < 0.25,
        s"$key est ${r.getDouble(3)} vs exact ${exact.getOrElse(key, 0.0)}")
    }
  }

  test("span excision cuts exactly the shared passage and fingerprints the rest") {
    import spark.implicits._
    val passage = (1 to 12).map(i => s"shared$i").mkString(" ") // 12 tokens > n=10
    val corpus = Seq(
      (1L, s"alpha beta $passage gamma", "en", "s"),
      (2L, s"$passage delta", "en", "s"),
      (3L, "totally unrelated text only", "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.exciseDuplicateSpans(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "every tokenful doc keeps an accounting row")
    // doc 1: the 12 covered passage positions go, alpha/beta/gamma stay
    assert(rows(1L)._1 == 15L && rows(1L)._2 == 12L)
    assert(rows(1L)._3 == md5Hex("alpha beta gamma"))
    // doc 2: passage at the head, only the tail token survives
    assert(rows(2L)._1 == 13L && rows(2L)._2 == 12L)
    assert(rows(2L)._3 == md5Hex("delta"))
    // doc 3: untouched — n_cut 0, fingerprint of the full token join
    assert(rows(3L)._2 == 0L)
    assert(rows(3L)._3 == md5Hex("totally unrelated text only"))
    // fixture corpus: accounting is conserved and never negative
    val fix = TextOps.exciseDuplicateSpans(docs).collect()
    assert(fix.length.toLong ==
      docs.filter(expr("size(regexp_extract_all(lower(text), '[A-Za-z0-9_]+', 0)) > 0")).count())
    fix.foreach(r => assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(1)))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("leakage-safe pipeline blocks the planted cross-split near-dup a doc-level split leaks") {
    import spark.implicits._
    import graft.engine.CorpusOps
    val base = "the training corpus deduplication pipeline must stay leak free always and forever"
    val corpus = Seq(
      (1L, base, "en", "s"),
      (2L, base + " indeed", "en", "s"), // near-dup of doc 1
      (3L, "completely different subject matter about orbital mechanics and fuel", "en", "s"),
      (4L, "yet another unrelated document concerning medieval bread prices", "en", "s")
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
      .localCheckpoint(false)
    val clusters = DedupOps.connectedComponents(
      corpus.select(col("doc_id")),
      DedupOps.jaccardPairs(corpus).select(col("doc_i"), col("doc_j")))
      .localCheckpoint(false)
    assert(clusters.filter(col("doc_id") =!= col("cluster_id")).count() == 1L,
      "fixture must contain exactly the planted near-dup pair")
    // NAIVE document-level split: parity puts doc 1 and doc 2 on
    // opposite sides of the train/test boundary — the leak
    val naive = clusters.withColumn("split",
      when(pmod(col("doc_id"), lit(2)) === 0, "train").otherwise("test"))
    val naiveRows = CorpusOps.leakageSafePipelineReport(corpus, naive).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(6)))).toMap
    assert(naiveRows(("test", "train"))._2 == 1L && naiveRows(("train", "test"))._2 == 1L,
      s"doc-level split must leak the planted pair: $naiveRows")
    // CLUSTER-AWARE split over the same closure: the pair moves as a
    // unit, so the matrix certifies zero cluster leakage — while the
    // same near-dup structure still exists in the corpus
    val safe = DedupOps.clusterAwareSplitFromClusters(clusters)
    val safeRows = CorpusOps.leakageSafePipelineReport(corpus, safe).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(6)))).toMap
    assert(safeRows.values.forall(_._2 == 0L),
      s"cluster pinning must block every cross-split near-dup: $safeRows")
    assert(safeRows.values.exists(_._1 > 0L), "packing produced sequences")
  }

  test("bm25 replays the rational-idf formula and ranks hand-built docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "hash join hash join hash", "en", "s"),
      (2L, "hash table scan", "en", "s"),
      (3L, "the quick brown fox", "en", "s"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    // driver-side reference: identical op order to the engine formula
    // (per-term floor(raw·1e9) ppb, exact long sum per doc)
    val (nn, sumdl) = (3L, 12L)
    def scoreT(tf: Long, df: Long, dl: Long): Long = {
      val raw = ((nn - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0)) /
        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / (sumdl.toDouble / nn)))
      math.floor(raw * 1.0e9).toLong
    }
    val got = RetrievalOps.bm25TopKFromIndex(RetrievalOps.bm25Postings(corpus),
        RetrievalOps.bm25DocLengths(corpus)).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // q0 "hash join": d1 (hash tf3 df2, join tf2 df1) must outrank d2 (hash tf1)
    assert(got((0L, 1L))._1 == 1L && got((0L, 2L))._1 == 2L)
    assert(got((0L, 1L))._2 == scoreT(3, 2, 5) + scoreT(2, 1, 5))
    assert(got((0L, 1L))._3 == 2L, "d1 matches both query-0 terms")
    assert(got((0L, 2L))._2 == scoreT(1, 2, 3))
    // q1 "table scan": only d2 matches
    assert(got((1L, 2L))._1 == 1L && got((1L, 2L))._3 == 2L)
    assert(got.keys.count(_._1 == 1L) == 1)
    // q2 "stream filter": no doc contains either term — no rows
    assert(!got.keys.exists(_._1 == 2L))
    // fixture corpus: dense ranks from 1, scores non-increasing per query
    val fix = RetrievalOps.bm25TopKFromIndex(RetrievalOps.bm25PostingsFor(docs),
      RetrievalOps.bm25DocLengthsFor(docs)).collect()
    fix.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, s"qid $qid ranks dense")
      val scores = sorted.map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"qid $qid monotone")
    }
  }

  test("query expansion recalls a doc invisible to the base query through mined feedback terms") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "hash join hash join partition partition partition", "en", "s"),
      (2L, "hash join partition shuffle", "en", "s"),
      (3L, "partition partition partition rebalance", "en", "s"),
      (4L, "the quick brown fox jumps again", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val p = RetrievalOps.bm25Postings(corpus)
    val dl = RetrievalOps.bm25DocLengths(corpus)
    val base = RetrievalOps.bm25TopKFromIndex(p, dl, Seq("hash join")).collect()
    assert(!base.exists(r => r.getLong(0) == 0L && r.getLong(2) == 3L),
      "the partition-only doc shares no term with the base query")
    // feedback docs are d1/d2; 'partition' (fb_tf 4, df 3) out-lifts
    // 'shuffle' (fb_tf 1, df 1): 4N/(11*3) > N/11
    val exp = RetrievalOps.queryExpansion(p, dl, Seq("hash join"),
        fbDocs = 2, fbTerms = 1).collect()
      .map(r => r.getLong(2) -> ((r.getLong(1), r.getLong(4)))).toMap
    assert(exp.contains(3L), s"expansion must recall the partition doc: $exp")
    assert(exp(3L)._2 == 1L, "recalled via exactly the one mined term")
    assert(exp(1L)._2 == 3L, "the feedback doc matches all three expanded terms")
    // fixture corpus through the stored-index path: dense, monotone
    val fix = RetrievalOps.queryExpansion(
      RetrievalOps.bm25Postings(docs), RetrievalOps.bm25DocLengths(docs)).collect()
    fix.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq, s"qid $qid dense")
      val scores = sorted.map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"qid $qid monotone")
    }
  }

  test("hard negatives exclude the anchor's near-dup cluster even when it scores highest") {
    import graft.engine.RetrievalOps
    // inject a near-copy of doc 0 at id -1 (inside the demonstrator's
    // doc_id < 60 edge window): it shares doc 0's exact vocabulary, so
    // it would top the anchor's own term ranking — the cluster
    // exclusion must drop it anyway
    val copy = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(-1L))
      .withColumn("text", concat(col("text"), lit(" tail")))
    val corpus = docs.unionByName(copy).localCheckpoint(false)
    val clusters = DedupOps.connectedComponents(
      corpus.select(col("doc_id")),
      DedupOps.jaccardPairs(corpus).select(col("doc_i"), col("doc_j")))
    val got = RetrievalOps.hardNegatives(
        RetrievalOps.bm25Postings(corpus), RetrievalOps.bm25DocLengths(corpus),
        clusters, anchors = Seq(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length == 10, s"k=10 negatives: ${got.length}")
    assert(!got.exists(_._3 == -1L), "the planted near-copy is a positive, never a negative")
    assert(!got.exists(_._3 == 0L), "the anchor itself is excluded")
    // the whole cluster of doc 0 is out, and counted
    val clusterOf0 = clusters.filter(col("cluster_id") ===
        clusters.filter(col("doc_id") === 0).collect()(0).getLong(1))
      .collect().map(_.getLong(0)).toSet
    assert(got.forall(g => !clusterOf0.contains(g._3)))
    // n_excluded counts the SCORING positives: at least the anchor
    // (its own terms) and the planted copy (same vocabulary), at most
    // the whole cluster
    assert(got.head._5 >= 2L && got.head._5 <= clusterOf0.size.toLong,
      s"n_excluded ${got.head._5} vs cluster ${clusterOf0.size}")
    // ranks dense, scores non-increasing
    assert(got.map(_._2).toSeq == (1L to 10L))
    assert(got.map(_._4).sliding(2).forall(p => p.head >= p.last))
  }

  test("bpe drift report prices novel words by character fallback and counts them in ppm") {
    import spark.implicits._
    // stored tokenizer: one merge (a,b) -> 'ab'
    val merges = Seq(("a", "b"))
    val trained = Seq(("abab", 5L)).toDF("w", "freq")
      .withColumn("units", array(lit("ab"), lit("ab")))
    val batch = Seq(
      (1L, "abab abab zzzz", "en", "sA"), // 2 known (2 units each), 1 novel (4 chars)
      (2L, "abab", "en", "sB")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextOps.bpeDriftReport(batch, merges, trained).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    // sA: 3 tokens, units 2+2+4 = 8; novel 1 of 3 -> 333333 ppm
    assert(got("sA") == ((3L, 8L, 8.0 / 3, 1L, 333333L)), s"sA: ${got("sA")}")
    assert(got("sB") == ((1L, 2L, 2.0, 0L, 0L)), s"sB: ${got("sB")}")
  }

  test("postings coverage audit flags a partial index and passes a complete one") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta", "en", "s"),
      (2L, "gamma", "en", "s"),
      (3L, "   ", "en", "s")).toDF("doc_id", "text", "lang", "source") // doc 3 token-less
    val p = RetrievalOps.bm25Postings(corpus)
    val dl = RetrievalOps.bm25DocLengths(corpus)
    val ok = RetrievalOps.postingsCoverageAudit(corpus, p, dl).collect()(0)
    assert((ok.getLong(0), ok.getLong(1), ok.getLong(2), ok.getLong(3), ok.getBoolean(4))
      == ((3L, 3L, 2L, 1L, true)), s"complete index: $ok")
    // a stale index missing doc 2's postings must flag, loudly
    val partial = RetrievalOps.postingsCoverageAudit(
      corpus, p.filter(col("doc_id") =!= 2L), dl).collect()(0)
    assert(!partial.getBoolean(4) && partial.getLong(2) == 1L, s"partial index: $partial")
  }

  test("incremental postings append reconciles df and composes into an equivalent index") {
    import spark.implicits._
    val stored = Seq(
      (1L, "hash join hash", "en", "s"),
      (2L, "table scan", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (11L, "hash probe", "en", "s"),     // touches existing 'hash'
      (12L, "bloom bloom filter", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val p = RetrievalOps.bm25Postings(stored).localCheckpoint(false)
    val dl = RetrievalOps.bm25DocLengths(stored).localCheckpoint(false)
    val got = RetrievalOps.bm25IncrementalAppend(p, dl, batch).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // hash: df 1 before (doc1), 1 new; bloom: brand new, tf mass 2;
    // corpus shift: 2+2 docs, 5+5 tokens
    assert(got("hash") == ((1L, 1L, 2L, 1L, 4L, 10L)), s"hash: ${got("hash")}")
    assert(got("bloom") == ((0L, 1L, 1L, 2L, 4L, 10L)), s"bloom: ${got("bloom")}")
    assert(got("probe") == ((0L, 1L, 1L, 1L, 4L, 10L)))
    assert(got("filter") == ((0L, 1L, 1L, 1L, 4L, 10L)))
    assert(!got.contains("join") && !got.contains("scan"),
      "untouched stored terms stay out of the batch-bounded report")
    // composition: stored index + batch delta == index built from the
    // union — the append path produces an EQUIVALENT probe surface
    val composedP = p.unionByName(RetrievalOps.bm25Postings(batch))
    val composedDl = dl.unionByName(RetrievalOps.bm25DocLengths(batch))
    val union = stored.unionByName(batch)
    val a = RetrievalOps.bm25TopKFromIndex(composedP, composedDl).collect().map(_.toString).toSeq
    val b = RetrievalOps.bm25TopKFromIndex(RetrievalOps.bm25Postings(union),
      RetrievalOps.bm25DocLengths(union)).collect().map(_.toString).toSeq
    assert(a == b, "appended index must probe identically to a from-scratch build")
  }

  test("bm25 persisted-index probe matches the inline computation, prune pushes to the scan") {
    // the inline side probes the index frames built in this plan
    val inline = RetrievalOps.bm25TopKFromIndex(RetrievalOps.bm25Postings(docs),
      RetrievalOps.bm25DocLengths(docs)).collect().map(_.toString).toSeq
    val probe = RetrievalOps.bm25TopKFromIndex(
      RetrievalOps.bm25PostingsFor(docs), RetrievalOps.bm25DocLengthsFor(docs))
    assert(probe.collect().map(_.toString).toSeq == inline,
      "stored-index probe must be bit-identical to the from-scratch scorer")
    // the literal query-term prune must reach the postings scan as a
    // pushed filter — at scale this is what keeps a probe from
    // reading the whole index. (The probe's own executed plan hides
    // the scan behind the candidate-set checkpoint, so assert on the
    // pruned-postings subplan the checkpoint materializes.)
    val pruned = RetrievalOps.bm25PostingsFor(docs)
      .filter(col("w").isin("hash", "join", "table", "scan", "stream", "filter"))
    val scanPlan = pruned.queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters") && scanPlan.contains("In(w"),
      s"expected the isin term prune pushed to the postings scan:\n$scanPlan")
    // and the probe plan contains no text tokenization at all
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_extract_all"),
      "index probe must not re-tokenize the corpus")
  }

  test("length buckets pick the smallest power-of-two and batch in doc order") {
    import spark.implicits._
    def words(k: Int) = Seq.fill(k)("w").mkString(" ")
    val corpus = Seq(
      (1L, words(10), "en", "s"),   // bucket 16
      (2L, words(16), "en", "s"),   // bucket 16 (exact fit)
      (3L, words(17), "en", "s"),   // bucket 32
      (4L, words(9000), "en", "s"), // over the top bucket: clamps to 8192
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val got = CorpusOps.lengthBucketBatches(corpus, batchSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(got((16L, 0L)) == ((2L, 26L, 6L, 0.8125)))   // docs 1+2: 10+16 carried, 6+0 pad
    assert(got((32L, 0L)) == ((1L, 17L, 15L, 0.53125))) // doc 3
    assert(got((8192L, 0L)) == ((1L, 8192L, 0L, 1.0)))  // doc 4 truncated to capacity
    assert(got.size == 3)
    // fixture corpus: buckets are powers of two, batches dense from 0,
    // fill fractions in (0, 1], doc accounting conserved
    val fix = CorpusOps.lengthBucketBatches(docs).collect()
    assert(fix.map(_.getLong(2)).sum ==
      docs.filter(col("text").rlike("[^ ]")).count())
    fix.foreach { r =>
      assert((r.getLong(0) & (r.getLong(0) - 1)) == 0L, "bucket is a power of two")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
    fix.groupBy(_.getLong(0)).foreach { case (b, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0L until rs.length).toSeq, s"bucket $b batches dense")
    }
  }

  test("distinctive terms rank by frequency lift with exact hand-checked scores") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (("zebra " * 30) + ("common " * 10)).trim, "en", "s1"),
      (2L, ("common " * 40).trim, "en", "s2"),
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val rows = TextOps.distinctiveTerms(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // s1: zebra lift = (30/40)/(30/80) = 2.0 beats common (10/40)/(50/80) = 0.4
    assert(rows(("s1", 1L)) == (("zebra", 30L, 30L, 2.0)))
    assert(rows(("s1", 2L)) == (("common", 10L, 50L, 0.4)))
    // s2: only common qualifies — lift (40/40)/(50/80) = 1.6
    assert(rows(("s2", 1L)) == (("common", 40L, 50L, 1.6)))
    assert(!rows.contains(("s2", 2L)), "zebra never appears in s2 — no row")
    // fixture corpus: at most k rows per source, ranks dense from 1, lifts positive
    val fix = TextOps.distinctiveTerms(docs, k = 5).collect()
    fix.groupBy(_.getString(0)).foreach { case (s, rs) =>
      assert(rs.length <= 5 && rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq, s)
    }
    fix.foreach(r => assert(r.getDouble(5) > 0.0))
  }

  test("LSH tuning report: nested band refinement gives monotone candidates and recall") {
    val rows = DedupOps.lshTuningReportFromTruth(DedupOps.docSketchesFor(docs),
      DedupOps.calibrationTruthFor(docs)).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((4L, 8L), (8L, 4L), (16L, 2L)))
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "hits bounded by candidates")
      assert(r.getLong(4) <= r.getLong(3), "hits bounded by truth")
    }
    // a width-2w band agreeing implies both width-w halves agree, so
    // each config's candidate set contains the previous one's —
    // candidates, hits, recall all monotone nondecreasing in bands
    val byBands = rows.sortBy(_.getLong(0))
    byBands.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) <= b.getLong(2), "candidates monotone")
      assert(a.getLong(4) <= b.getLong(4), "hits monotone")
    }
    // the fixture has true near-dup pairs and the finest banding finds
    // a strict superset of candidates vs the coarsest
    assert(byBands.head.getLong(3) > 0, "truth pairs exist in the fixture")
    assert(byBands.last.getLong(2) > byBands.head.getLong(2))
  }

  test("incremental corpus card merges to the full rebuild with both dup branches live") {
    import spark.implicits._
    val stored = Seq(
      (1L, "the quick brown fox", "en", "s"),
      (2L, "the quick brown fox", "en", "s"), // stored-internal dup of 1
      (3L, "ein ganz anderer text", "de", "s")).toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      (10L, "the quick brown fox", "en", "s"),  // dup via the stored fingerprint
      (11L, "fresh batch content here", "en", "s"),
      (12L, "fresh batch content here", "en", "s"), // batch-internal dup (keeper 11)
      (13L, "neues deutsches material", "de", "s")).toDF("doc_id", "text", "lang", "source")
    val got = CorpusOps.corpusCardIncremental(
      CorpusOps.corpusCardState(stored), DedupOps.fingerprintStore(stored),
      batch, validateIds = true).collect()
    val full = CorpusOps.corpusCard(stored.unionByName(batch)).collect()
    assert(got.length == full.length)
    got.zip(full).foreach { case (g, f) =>
      assert((0 until 7).forall(i => g.get(i) == f.get(i)),
        s"merged row must equal the rebuild: $g vs $f") }
    val en = got.find(_.getString(0) == "en").get
    assert(en.getLong(5) == 3L, s"1 stored-internal + seen + batch-internal dups: $en")
    assert(en.getLong(7) == 3L && got.find(_.getString(0) == "de").get.getLong(7) == 1L,
      "n_batch_docs counts only the batch")
    // violated monotone-id contract fails loudly under the guard
    val bad = batch.withColumn("doc_id", col("doc_id") - lit(10L))
    intercept[IllegalArgumentException] {
      CorpusOps.corpusCardIncremental(
        CorpusOps.corpusCardState(stored), DedupOps.fingerprintStore(stored),
        bad, validateIds = true).collect()
    }
  }

  test("importance resampling keeps target-domain docs whole and thins off-domain text") {
    import spark.implicits._
    // 40 target docs and 40 off-domain docs with disjoint vocabulary:
    // target text scores ABOVE the pool model (ratio caps at 1e6 ->
    // every hash draw accepts); off-domain bigrams back off to the
    // Laplace floor under the target model, so their ratio — hence
    // their deterministic acceptance rate — drops proportionally.
    val target = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta", "en", "src0"))
    val ood = (100L until 140L).map(i =>
      (i, "zulu yankee xray whisky victor uniform", "en", "srcX"))
    val pool = (target ++ ood).toDF("doc_id", "text", "lang", "source")
    val out = TextOps.importanceResample(pool, "src0").collect()
    val bySrc = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // target slice: capped ratio, full acceptance, 5 bigrams/doc
    assert(bySrc("src0") == ((40L, 1000000L, 40L, 200L)), s"target: $bySrc")
    val (nScored, ratio, nAcc, _) = bySrc("srcX")
    assert(nScored == 40L)
    // hand arithmetic: t_ppb = floor(1e9/6), p_ppb = floor(41/52*1e9)
    // -> ratio = 166666666*1e6 div 788461538
    assert(ratio == 211382L, s"off-domain ratio: $ratio")
    assert(nAcc > 0L && nAcc < 40L, s"off-domain thinning: $nAcc")
    // resampling is deterministic row-for-row
    val again = TextOps.importanceResample(pool, "src0").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("aho-corasick counts distinct needles, overlaps included, near-misses excluded") {
    import graft.functions.AhoCorasick
    val ac = AhoCorasick.build(Array("ab", "abc", "bc", "bc", "zzz", ""))
    assert(ac.nNeedles == 4) // dupes share an id, empties dropped
    assert(ac.countDistinct("xabcx") == 3) // ab, abc, bc all end inside
    assert(ac.countDistinct("abab") == 1) // repeated hits count once
    assert(ac.countDistinct("a-b-c") == 0) // near-miss: no substring match
    assert(ac.countDistinct("") == 0 && ac.countDistinct(null) == 0)
    assert(AhoCorasick.build(Array.empty[String]).countDistinct("anything") == 0)
  }

  test("substring contamination flags a planted verbatim needle and matches brute force") {
    import spark.implicits._
    val heldOut = docs.filter(col("doc_id") < 50)
    // plant: a corpus doc that embeds one held-out sentence verbatim
    // mid-text (crossing case), and a near-miss with one char changed
    val needle = heldOut.select(explode(split(col("text"), "\\. ")).as("s"))
      .select(lower(trim(col("s"))).as("nd")).filter(length(col("nd")) >= 20)
      .limit(1).as[String].collect().head
    val planted = Seq(
      (9000001L, s"prefix words ${needle.toUpperCase} suffix words", "en", "src0", 1L),
      (9000002L, s"prefix ${needle.dropRight(1)}X suffix", "en", "src0", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = docs.filter(col("doc_id") >= 50).unionByName(planted)
    val got = TextOps.substringContamination(corpus, heldOut).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(9000001L)._2 && got(9000001L)._1 >= 1L, s"planted: ${got(9000001L)}")
    assert(!got(9000002L)._2, s"near-miss must not flag: ${got(9000002L)}")
    // brute force agreement over the whole fixture
    val needles = heldOut.select(explode(split(col("text"), "\\. ")).as("s"))
      .select(lower(trim(col("s"))).as("nd")).filter(length(col("nd")) >= 20)
      .distinct().as[String].collect()
    val texts = corpus.select(col("doc_id"), lower(col("text"))).as[(Long, String)].collect()
    val brute = texts.map { case (id, t) =>
      id -> needles.count(t.contains(_)).toLong }.toMap
    assert(got.view.mapValues(_._1).toMap == brute, "automaton must equal brute-force contains")
  }

  test("importance verdicts under external models reproduce the q251 rollup") {
    import spark.implicits._
    val target = TextOps.lmModel(
      docs.filter(col("source") === "src0").select(col("doc_id"), col("text")))
    val poolM = TextOps.lmModel(docs.select(col("doc_id"), col("text")))
    val rolled = TextOps.importanceVerdicts(target, poolM, docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_scored"), sum(col("ratio_ppm")).as("s_ratio"),
           sum(when(col("accepted"), 1L).otherwise(0L)).as("n_accepted"),
           sum(when(col("accepted"), col("n_bigrams")).otherwise(0L)).as("accepted_bigrams"))
      .select(col("source"), col("n_scored"),
        expr("s_ratio div n_scored").as("mean_ratio_ppm"),
        col("n_accepted"), col("accepted_bigrams"))
      .collect()
    val direct = TextOps.importanceResample(docs).collect()
    def k(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(k(rolled) == k(direct),
      "external-model verdicts must agree with the inline q251 form")
  }

  test("license gate composes onto the funnel: stages 0-4 unchanged, stage 5 = allow ∩ decontam, corpus conserved") {
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val base = rows(CorpusOps.curationFunnel(docs))
    val gated = rows(CorpusOps.licensedCurationFunnel(docs))
    assert(gated.length == base.length + 1 && gated.take(base.length) == base,
      "license gating must not perturb the upstream stages")
    val st5 = gated.last
    assert(st5._1 == 5L && st5._2 == "license_gate")
    // stage 5 recomputed independently: decontam survivors from the
    // base funnel minus docs whose source verdict isn't allow
    val dim = CorpusOps.sourceLicenseDim(docs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    // the rule covers every class and maps verdicts faithfully
    assert(dim.values.map(_._1).toSet ==
      Set("cc-by", "public-domain", "proprietary", "unknown"))
    dim.values.foreach { case (lic, v) =>
      val expected = lic match {
        case "proprietary" => "deny"
        case "unknown" => "review"
        case _ => "allow"
      }
      assert(v == expected, s"$lic -> $v")
    }
    val allowSrc = dim.filter(_._2._2 == "allow").keySet
    val denyDocs = docs.collect()
      .filter(r => !allowSrc.contains(r.getString(3))).map(_.getLong(0)).toSet
    // drop accounting at the gate: stage4 − stage5 = decontam
    // survivors from denied/review sources — recount them directly
    val n4 = base.last._3
    // conservation on the accounting view: every doc in exactly one cell
    val acct = CorpusOps.licenseAccounting(docs).collect()
    assert(acct.map(_.getLong(3)).sum == docs.count(),
      "accounting must conserve the corpus")
    assert(denyDocs.nonEmpty, "fixture must exercise the deny path")
    assert(st5._3 <= n4 && st5._5 == n4 - st5._3, "gate drop accounting")
  }

  test("license gate composes onto the INCREMENTAL funnel: q262 stages 0-3 = q247, stage 4 = allow ∩ admitted") {
    val docs = Tables.documents(spark, sf)
    val sk = DedupOps.docSketchesFor(docs)
      .filter(col("sig").isNotNull).select(col("doc_id"), col("sig"))
    val storedFps = DedupOps.fingerprintStore(docs.filter(col("doc_id") < 450))
    val storedSigs = sk.filter(col("doc_id") < 450)
    val batch = docs.filter(col("doc_id") >= 450)
    val batchSigs = sk.filter(col("doc_id") >= 450)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val base = rows(CorpusOps.ingestFunnel(storedFps, storedSigs, batch, batchSigs))
    val dim = CorpusOps.sourceLicenseDim(docs)
    val gated = rows(CorpusOps.licensedIngestFunnel(
      storedFps, storedSigs, batch, batchSigs, dim))
    assert(gated.length == base.length + 1 && gated.take(base.length) == base,
      "license gating must not perturb the q247 stages")
    val st4 = gated.last
    assert(st4._1 == 4L && st4._2 == "license_gate")
    val n3 = base.last._3
    assert(st4._3 <= n3 && st4._5 == n3 - st4._3, "gate drop accounting")
    assert(st4._5 > 0, "fixture must exercise the deny path at the gate")
  }

  test("entity takedown: a removed bridge record splits its group; result equals a full rebuild") {
    import spark.implicits._
    // chain fixture: 1—2—3 (each link within Levenshtein 2, the ends
    // 4 apart) — removing the middle record MUST split the group
    val part = Seq(
      (1L, "aaaaaa", "B1"), (2L, "aaaabb", "B1"), (3L, "aabbbb", "B1"),
      (4L, "zzzzzz", "B2"))
      .toDF("p_partkey", "p_name", "p_brand")
    val stored = DedupOps.entityGroups(part)
    assert(stored.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L), "chain closes into one group")
    val after = DedupOps.entityTakedown(part, Seq(2L).toDF("p_partkey"), stored)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(after.keySet == Set(1L, 3L, 4L))
    assert(after(1L) == ((1L, 1L, "aaaaaa", "reclosed")), s"got ${after(1L)}")
    assert(after(3L) == ((3L, 1L, "aabbbb", "reclosed")),
      "the bridge removal must SPLIT 1 and 3 into singletons")
    assert(after(4L) == ((4L, 1L, "zzzzzz", "untouched")),
      "the untouched group passes through verbatim")
    // fixture corpus: touched-only re-close ≡ full rebuild row-for-row
    val p = Tables.part(spark, sf)
    val rm = p.filter(pmod(col("p_partkey"), lit(17)) === 4)
      .select(col("p_partkey"))
    val got = DedupOps.entityTakedown(p, rm, DedupOps.entityGroups(p))
      .drop("status").collect().map(_.toString).sorted.toSeq
    val rebuild = DedupOps.entityGroups(p.join(rm, Seq("p_partkey"), "left_anti"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == rebuild, "takedown must equal the full rebuild, splits included")
  }

  test("LM subtract is the exact inverse of merge and equals a full retrain") {
    import spark.implicits._
    val base = docs.filter(col("doc_id") <= 200)
    val rmIds = Seq(7L, 21L).toDF("doc_id")
    val removed = base.join(rmIds, Seq("doc_id"), "left_semi")
    val sub = TextOps.lmModelSubtract(TextOps.lmModel(base), removed)
    val retrain = TextOps.lmModel(base.join(rmIds, Seq("doc_id"), "left_anti"))
    def big(m: TextOps.LmModel) = m.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def ctx(m: TextOps.LmModel) = m.contexts.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def voc(m: TextOps.LmModel) = m.vocab.collect().map(_.getString(0)).toSet
    assert(big(sub) == big(retrain), "bigram counts must equal the retrain")
    assert(ctx(sub) == ctx(retrain), "context counts must equal the retrain")
    assert(voc(sub) == voc(retrain), "vocab must equal the retrain")
    // merge the removed docs back in: round-trips to the original model
    val roundTrip = TextOps.lmModelMerge(sub, removed)
    assert(big(roundTrip) == big(TextOps.lmModel(base)), "subtract∘merge ≠ id")
  }

  test("bloom rebuild applier: removed held-out grams stop serving; surviving contamination keeps flagging") {
    import spark.implicits._
    // synthetic fixture: held-out docs 1 (REMOVED) and 2 (kept), each
    // 12 unique words (8 distinct 5-grams > the minShared=5 gate);
    // corpus doc 100 contaminated only by doc 1, 101 only by doc 2,
    // 102 clean.
    def words(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, words("rmheld")), (2L, words("keepheld")),
      (100L, words("rmheld")), (101L, words("keepheld")),
      (102L, words("clean"))).toDF("doc_id", "text")
    val removal = Seq(1L).toDF("doc_id")
    val led = TextOps.bloomRebuildApply(docs, removal).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // the q273 row FLIPPED: key-set conservation, clean = true
    val (nb, na, nr, kclean) = led(("bloom_rebuild", "all"))
    assert(kclean && nb == 16L && na == 8L && nr == 8L, s"got $led")
    // pre-rebuild every removed-only gram still probes positive (no
    // false negatives); post-rebuild none do at this scale (FP-only)
    val (rpo, rpn, _, rclean) = led(("removed_grams", "all"))
    assert(rclean && rpo == 8L && rpn == 0L, s"got $led")
    // serving verdicts: doc 100 unflagged by the rebuild, 101 keeps
    val (fo, fn, _, sclean) = led(("serving", "n_flagged"))
    assert(sclean && fo == 2L && fn == 1L, s"got $led")
    // per-doc cross-check against independent q85 runs on each filter
    // generation: rebuilt ≡ built-from-scratch at the serving level
    val heldOld = docs.filter(col("doc_id") < 50)
    val heldNew = heldOld.filter(col("doc_id") =!= 1L)
    val corpus = docs.filter(col("doc_id") >= 50)
    def flags(h: org.apache.spark.sql.DataFrame) =
      TextOps.bloomContaminationCheck(corpus, h).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val pre = flags(heldOld)
    val post = flags(heldNew)
    assert(pre == Map(100L -> true, 101L -> true, 102L -> false), s"$pre")
    assert(post == Map(100L -> false, 101L -> true, 102L -> false), s"$post")
    assert(fn == post.values.count(identity).toLong,
      "report flag count must equal the from-scratch run")
  }

  test("quarantine round-trip: cross-cell keeper restore flips dup attribution back") {
    import spark.implicits._
    // docs 1 (cell en:web) and 2 (cell fr:api) share text; keeper = 1
    // (min id). Removing 1 promotes 2 to keeper — fr:api's dup count
    // drops to 0. Restoring 1 must displace the interim keeper and
    // move the dup flag BACK to fr:api — the case a naive
    // seen-is-dup incremental fold-in would misattribute.
    val docs = Seq(
      (1L, "en", "web", "the same shared text body"),
      (2L, "fr", "api", "the same shared text body"),
      (3L, "en", "web", "a unique text one two three"))
      .toDF("doc_id", "lang", "source", "text")
    val rm = Seq(1L).toDF("doc_id")
    val fp = docs.select(col("doc_id"), md5(col("text")).as("fp_md5"))
    val st0 = CorpusOps.corpusCardState(docs)
    val stP = CorpusOps.corpusCardTakedownState(st0, fp, docs, rm)
    val stR = CorpusOps.corpusCardRestoreStateFrom(stP, fp, docs, CorpusOps.preppedRemoval(rm))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(m(stR) == m(st0), s"restore ∘ takedown must be the identity:\n" +
      s"got ${m(stR)}\nexp ${m(st0)}")
    assert(m(st0)(("fr", "api"))._4 == 1L, "doc 2 is a dup while 1 exists")
    assert(m(stP)(("fr", "api"))._4 == 0L,
      "fold-out must promote doc 2 to keeper (dup flag leaves fr:api)")
  }

  test("takedown-stores ledger: one removed doc corrects exactly its counts; Bloom flags rebuild") {
    import spark.implicits._
    // one removed doc with a UNIQUE text (its own fp group) — every
    // correction must be attributable to it alone
    val rmId = 57L
    val one = docs.filter(col("doc_id") === rmId)
    assert(one.count() == 1)
    val removal = Seq(rmId).toDF("doc_id")
    val fpStore = docs.select(col("doc_id"), md5(col("text")).as("fp_md5"))
    val lm = TextOps.lmModel(docs)
    val state = CorpusOps.corpusCardState(docs)
    val emb = Tables.embeddings(spark, sf)
    val sigs = SimilarityOps.binarySignatures(emb).select(col("vec_id"), col("sig"))
    val led = CorpusOps.takedownStores(docs, removal, lm, state, fpStore, sigs)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // the doc's own cell loses exactly 1 doc, its token count, and its
    // floor-quantized quality ppm — and no other cell moves
    val cell = docs.filter(col("doc_id") === rmId)
      .select(col("lang"), col("source")).head
    val (lang, source) = (cell.getString(0), cell.getString(1))
    val q = TextOps.qualityScore(one)
      .select(col("n_tokens"), floor(col("quality") * lit(1.0e6)).cast("long"))
      .head
    val (rmToks, rmQppm) = (q.getLong(0), q.getLong(1))
    led.collect { case (("card_state", k), (nb, na, nr, clean)) =>
      assert(clean, s"card row $k must be clean")
      val Array(l, s, m) = k.split(":", 3)
      val expected: Long =
        if (l == lang && s == source) m match {
          case "n_docs" => 1L
          case "n_tokens" => rmToks
          case "q_ppm_sum" => rmQppm
          case "n_exact_dups" => 0L // unique text: no dup flag moves
        } else 0L
      assert(nr == expected && na == nb - nr,
        s"card row $k: removed $nr, expected $expected")
    }
    // LM rows: decrement exactly the doc's bigram contribution, clean
    // (mass-conserving); vocab can only shrink
    val rmOcc = TextOps.lmModel(one).bigrams.agg(sum(col("c2"))).head.getLong(0)
    assert(rmOcc > 0, "fixture doc must contribute bigrams")
    Seq("lm_bigrams", "lm_contexts", "lm_vocab").foreach { a =>
      val (nb, na, nr, clean) = led((a, "all"))
      assert(clean, s"$a must be clean")
      assert(nr >= 0 && na == nb - nr)
    }
    // binary sigs: exactly the matching vec row drops, clean
    val (snb, sna, snr, sclean) = led(("binary_sigs", "all"))
    val matched = sigs.join(removal.select(col("doc_id").as("vec_id")), "vec_id").count()
    assert(sclean && snr == matched && sna == snb - snr)
    // the Bloom row must flag rebuild_required (clean = false), with
    // the rebuilt key-set size as n_after
    val (bnb, bna, bnr, bclean) = led(("bloom_rebuild", "all"))
    assert(!bclean, "Bloom is not decrementable — the row must flag rebuild")
    assert(bnb >= bna && bnr == bnb - bna)
  }
}
