package graft

import org.apache.spark.sql.functions._

import graft.engine._

class SimilarityMultimodalSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf)

  test("brute-force cosine: self-similarity is 1, scores bounded") {
    // score against a copy of the query vector itself must be ~1
    val v = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(999999L))
    val scores = SimilarityOps.cosineTopK(emb.unionByName(v), nQueries = 1, k = 10)
      .collect()
    assert(scores.nonEmpty)
    val self = scores.find(_.getLong(1) == 999999L)
    assert(self.isDefined && math.abs(self.get.getDouble(2) - 1.0) < 1e-5,
      "identical vector should rank with score 1")
    assert(scores.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("ANN bucket scores agree with brute-force scores for the same pair") {
    val ann = SimilarityOps.annTopK(emb, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ann.nonEmpty, "ANN should return candidates with 6 planes")
    val brute = SimilarityOps.cosineTopK(emb, nQueries = 5, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ann.foreach { case (pair, score) =>
      assert(brute.contains(pair) && math.abs(brute(pair) - score) < 1e-9,
        s"pair $pair: ann=$score brute=${brute.get(pair)}")
    }
  }

  test("ANN candidates lie in the query bucket or a 1-bit probe neighbor") {
    val buckets = SimilarityOps.annBuckets(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = SimilarityOps.annTopK(emb, nQueries = 5, k = 10).collect()
    ann.foreach { r =>
      val h = java.lang.Long.bitCount(buckets(r.getLong(0)) ^ buckets(r.getLong(1)))
      assert(h <= 1, s"candidate ${r.getLong(1)} at bucket hamming $h")
    }
  }

  test("ANN recall@10 >= 0.8 at the recorded plane/probe config") {
    // This corpus has weakly-separated neighbors (top-10 at cosine
    // ~0.3), so the recorded config trades candidate pruning for
    // recall: 4 planes, probe depth 2. The default q47 config
    // (6 planes, depth 1) prunes harder and is the near-duplicate /
    // production-scale shape; its recall here is recorded below for
    // reference, not asserted.
    val brute = SimilarityOps.cosineTopK(emb, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(planes: Int, probe: Int): Double = {
      val ann = SimilarityOps.annTopK(emb, nQueries = 5, k = 10,
        numPlanes = planes, probeHamming = probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ann intersect brute).size.toDouble / brute.size
    }
    info(f"default config (6 planes, probe 1): recall@10 = ${recallOf(6, 1)}%.2f")
    val recorded = recallOf(4, 2)
    info(f"recorded config (4 planes, probe 2): recall@10 = $recorded%.2f")
    assert(recorded >= 0.8, s"recall@10 = $recorded at 4 planes / probe 2")
  }

  test("int8 quantized cosine: bounded lanes, score error small, recall@10 high") {
    val q8 = SimilarityOps.quantizeInt8(emb).collect()
    q8.foreach { r =>
      val lanes = r.getSeq[Long](1)
      assert(lanes.forall(l => l >= -127 && l <= 127), s"lane out of int8 range for ${r.getLong(0)}")
    }
    val brute = SimilarityOps.cosineTopK(emb, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SimilarityOps.quantizedCosineTopK(emb, nQueries = 5, k = 10).collect()
    val recall = (quant.map(r => (r.getLong(0), r.getLong(1))).toSet intersect brute).size.toDouble / brute.size
    info(f"int8 recall@10 vs exact = $recall%.2f")
    assert(recall >= 0.8, s"int8 quantization recall@10 = $recall")
    // quantized scores track exact cosine within the int8 error budget
    val exact = SimilarityOps.cosineTopK(emb, nQueries = 5, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    quant.foreach { r =>
      val e = exact((r.getLong(0), r.getLong(1)))
      assert(math.abs(r.getDouble(2) - e) < 0.02,
        s"quantized score ${r.getDouble(2)} drifted from exact $e")
    }
  }

  test("quantization error stays under the half-step bound for every vector") {
    val rows = SimilarityOps.quantizationErrorReport(emb).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (amax, maxErr, meanErrPpb) =
        (r.getDouble(1), r.getDouble(2), r.getLong(3))
      // per-lane bound of symmetric round-to-nearest: half a step,
      // amax/254 (maxErr is the raw fold; the mean is integer ppb)
      assert(maxErr <= amax / 254.0, s"vec ${r.getLong(0)}: $maxErr vs ${amax / 254.0}")
      assert(meanErrPpb <= math.floor(maxErr * 1e9).toLong && meanErrPpb >= 0L)
    }
  }

  test("IVF ANN: scores agree with brute force; recall@10 >= 0.8 at half-space probing") {
    val brute = SimilarityOps.cosineTopK(emb, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteScores = SimilarityOps.cosineTopK(emb, nQueries = 5, k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def recallOf(lists: Int, probe: Int): Double = {
      val ivf = SimilarityOps.ivfTopK(emb, nQueries = 5, k = 10,
        nLists = lists, nProbe = probe).collect()
      ivf.foreach { r =>
        val pair = (r.getLong(0), r.getLong(1))
        assert(math.abs(bruteScores(pair) - r.getDouble(2)) < 1e-9,
          s"IVF score must equal exact cosine for $pair")
      }
      (ivf.map(r => (r.getLong(0), r.getLong(1))).toSet intersect brute).size.toDouble / brute.size
    }
    info(f"default config (16 lists, probe 4): recall@10 = ${recallOf(16, 4)}%.2f")
    val half = recallOf(8, 4)
    info(f"half-space config (8 lists, probe 4): recall@10 = $half%.2f")
    assert(half >= 0.8, s"recall@10 = $half at 8 lists / probe 4")
  }

  test("semantic dedup absorbs an injected identical vector, keeps real vectors") {
    val copy = emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(1000000L))
    val out = SimilarityOps.semanticDedup(emb.unionByName(copy))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == emb.count() + 1, "every vector must appear exactly once")
    assert(out(1000000L) == (0L, true),
      s"identical copy must cluster under vec 0 as a dup, got ${out(1000000L)}")
    assert(out(0L) == (0L, false), "the canonical vector is not a dup")
  }

  test("semantic dedup pairs match brute-force cosine at the same threshold (precision exact)") {
    val bucketed = SimilarityOps.semanticDupPairs(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision: every bucketed pair's score is confirmed >= threshold
    assert(bucketed.values.forall(_ >= 0.9))
    // agreement: scores equal the brute-force cosine for the same pair
    val brute = SimilarityOps.cosineTopK(emb, nQueries = emb.count().toInt, k = 5)
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
                           math.max(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
    bucketed.foreach { case (pair, s) =>
      brute.get(pair).foreach(bs => assert(math.abs(bs - s) < 1e-9, s"pair $pair"))
    }
  }

  test("label centroid similarity: full matrix, bounded scores, identical labels at 1") {
    import spark.implicits._
    val real = SimilarityOps.labelCentroidSim(emb).collect()
    val k = emb.select("label").distinct().count()
    assert(real.length == k * (k - 1) / 2, "one row per unordered label pair")
    real.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
    // two labels with identical members -> cosine exactly 1; an
    // orthogonal third -> exactly 0 against both
    val synth = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f), 0), (2L, Array(1.0f, 0.0f, 2.0f), 1),
      (3L, Array(0.0f, 5.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.labelCentroidSim(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((0L, 1L)) == 1.0 && got((0L, 2L)) == 0.0 && got((1L, 2L)) == 0.0)
  }

  test("multimodal decode stub is deterministic and shape-correct") {
    val docs = Tables.documents(spark, sf)
    val a = MultimodalOps.decodeFeatures(docs).collect()
    val b = MultimodalOps.decodeFeatures(docs).collect()
    assert(a.length == docs.count())
    assert(a.map(_.getLong(3)).toSeq == b.map(_.getLong(3)).toSeq, "content hashes stable")
    assert(a.forall { r =>
      (4 to 7).forall(i => r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
    }, "stub features normalized to [0,1]")
  }

  test("media ANN ranks an injected identical payload first with score 1") {
    val docs = Tables.documents(spark, sf)
    val dup = docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(999999L))
    val top = MultimodalOps.mediaAnnTopK(docs.unionByName(dup), nQueries = 1, k = 5)
      .collect()
    assert(top.nonEmpty)
    val first = top.head
    assert(first.getLong(0) == 0L && first.getLong(1) == 999999L,
      s"identical payload must rank first, got ${first.mkString(",")}")
    assert(math.abs(first.getDouble(2) - 1.0) < 1e-6)
    // deterministic: same input, same ranking
    val again = MultimodalOps.mediaAnnTopK(docs.unionByName(dup), nQueries = 1, k = 5)
      .collect().map(_.toString).toSeq
    assert(again == top.map(_.toString).toSeq)
  }

  test("media table payload length equals utf-8 byte length") {
    val docs = Tables.documents(spark, sf)
    val rows = MultimodalOps.mediaTable(docs)
      .select(col("media_id"), col("payload"), col("n_bytes"))
      .limit(20).collect()
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]]("payload").length.toLong == r.getLong(2))
    }
  }

  test("embedding hygiene counts injected zero-norm and non-finite vectors") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(0f, 0f, 0f)),            // zero-norm: cosine undefined
      (0L, Array(Float.NaN, 1f, 0f)),     // non-finite
      (0L, Array(3f, 4f, 0f)),            // healthy, norm 5
      (1L, Array(Float.PositiveInfinity, 0f, 0f)),
      (1L, Array(1f, 0f, 0f)),
    ).toDF("label", "embedding")
    val got = SimilarityOps.embeddingHygiene(vecs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val l0 = got(0L)
    assert(l0.getLong(1) == 3L && l0.getLong(2) == 1L && l0.getLong(3) == 1L)
    // the only usable label-0 vector has norm 5 → min = max = mean
    assert(l0.getDouble(4) == 5.0 && l0.getDouble(5) == 5.0)
    assert(l0.getLong(6) == 5000000000L) // mean_norm_ppb = floor(5·1e9)
    val l1 = got(1L)
    assert(l1.getLong(1) == 2L && l1.getLong(2) == 1L && l1.getLong(3) == 0L)
    assert(l1.getLong(6) == 1000000000L)
    // fixture table: every vector is accounted for under exactly one label
    val emb = Tables.embeddings(spark, sf)
    val fix = SimilarityOps.embeddingHygiene(emb).collect()
    assert(fix.map(_.getLong(1)).sum == emb.count())
    assert(fix.map(_.getLong(0)).distinct.length == fix.length)
  }

  test("perceptual hash pairs injected near-duplicate payloads, not unrelated ones") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val original = randText(4096)
    // near-dup: same length, 8 bytes changed in one 64-byte window —
    // at most a handful of the 64 energy windows move
    val nearDup = original.substring(0, 2048) + "ZZZZZZZZ" + original.substring(2056)
    val corpus = (Seq(
      (1L, original, "en", "s"), (2L, nearDup, "en", "s")) ++
      (3L to 12L).map(i => (i, randText(4096), "en", "s")))
      .toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val pairs = MultimodalOps.mediaNearDupPairs(corpus, bands = 8, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      s"injected near-dup pair (1,2) must surface, got ${pairs.toSeq}")
    val injected = pairs.find(p => p._1 == 1L && p._2 == 2L).get
    assert(injected._3 <= 7L, "near-dup hamming must be small")
    assert(!pairs.exists(p => p._1 >= 3L && p._2 >= 3L),
      s"independent random payloads must not pair at radius 7: ${pairs.toSeq}")
    // determinism: phash is a pure function of the payload
    val sigs = MultimodalOps.phashStub(
      MultimodalOps.mediaTable(corpus).as[MultimodalOps.MediaRecord])
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = MultimodalOps.phashStub(
      MultimodalOps.mediaTable(corpus).as[MultimodalOps.MediaRecord])
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs == again)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 7,
      "edited payload flips few signature bits")
  }

  test("IVF label purity: hand contingency and fixture conservation") {
    import spark.implicits._
    val vecs = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1)).toDF("vec_id", "label")
    val assigned = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("vec_id", "list_id")
    val idx = SimilarityOps.IvfIndex(assigned, assigned.limit(0), 2)
    val got = SimilarityOps.ivfLabelPurity(vecs, idx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(0L) == ((2L, 0L, 2L, 1000000L)), "pure list")
    assert(got(1L) == ((2L, 0L, 1L, 500000L)), "tie breaks to the smaller label")
    // fixture: lists conserve the table, purity within (0, 1]
    val fix = SimilarityOps.ivfLabelPurity(emb,
      SimilarityOps.ivfIndexFor(emb)).collect()
    assert(fix.map(_.getLong(1)).sum == emb.count())
    fix.foreach { r =>
      assert(r.getLong(4) > 0L && r.getLong(4) <= 1000000L)
      assert(r.getLong(3) <= r.getLong(1))
    }
  }

  test("incremental IVF append assigns to stored centroids and flags a far-cluster flood") {
    import spark.implicits._
    // 4 stored lists with axis centroids, one stored vector each
    val centers = Seq(
      (0, Array(10.0, 0.0)), (1, Array(0.0, 10.0)),
      (2, Array(-10.0, 0.0)), (3, Array(0.0, -10.0))).toDF("c_list_id", "centroid")
    val assigned = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)).toDF("vec_id", "list_id")
    val idx = SimilarityOps.IvfIndex(assigned, centers, 4)
    // planted drift: every batch vector sits near centroid 1
    val batch = (10L to 15L).map(i => (i, Array(0.1f, 9.5f))).toDF("vec_id", "embedding")
    val asg = SimilarityOps.ivfIncrementalAssign(idx, batch).collect()
    assert(asg.length == 6 && asg.forall(_.getLong(1) == 1L),
      "every planted vector assigns to the nearest stored centroid")
    val rows = SimilarityOps.ivfIncrementalAppend(idx, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // flooded list: 1 before + 6 new = 7 of 10 → 7·4 > 2·10 → flagged
    assert(rows(1L) == ((1L, 6L, 7L, 0.7, true)), s"flooded list: ${rows(1L)}")
    assert(!rows(0L)._5 && !rows(2L)._5 && !rows(3L)._5, "quiet lists unflagged")
    assert(rows.values.map(_._3).sum == 10L, "population conserved")
    // fixture: the q235 derived batch appends to the PERSISTED index
    // with zero quantizer refits and conserves populations
    val index = SimilarityOps.ivfIndexFor(emb)
    val builds0 = Artifacts.builds("ivf_assign")
    val batchFix = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
    val fix = SimilarityOps.ivfIncrementalAppend(index, batchFix).collect()
    assert(Artifacts.builds("ivf_assign") == builds0, "append must never re-fit")
    assert(fix.map(_.getLong(3)).sum == emb.count() + batchFix.count())
    assert(fix.map(_.getLong(1)).sum == emb.count(), "before = stored corpus")
  }

  test("index coverage audit counts the planted missing vector and orphaned posting") {
    import spark.implicits._
    val vecs = (1L to 5L).map(i => (i, 0)).toDF("vec_id", "label")
    val assigned = (2L to 6L).map(i => (i, 0L)).toDF("vec_id", "list_id") // 1 missing, 6 orphaned
    val idx = SimilarityOps.IvfIndex(assigned, assigned.limit(0), 1)
    val r = SimilarityOps.ivfCoverageAudit(vecs, idx).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      == ((5L, 5L, 1L, 1L, false)))
    // the real persisted index covers the fixture exactly
    val fix = SimilarityOps.ivfCoverageAudit(emb,
      SimilarityOps.ivfIndexFor(emb)).collect()(0)
    assert(fix.getBoolean(4), s"fixture index must cover: $fix")
  }

  test("JL projection: distortion ratios concentrate near 1, exact integer distances") {
    val rows = SimilarityOps.jlProjectionAudit(emb).collect()
    assert(rows.length == 30 * 29 / 2, "all sampled pairs with d2_orig > 0")
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(3) >= 0)
      val ratio = r.getDouble(4)
      assert(ratio > 0.2 && ratio < 3.0,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) distortion $ratio out of band")
    }
    // E[ratio] ~ 1: the mean over 435 pairs must land well inside (0.7, 1.3)
    val mean = rows.map(_.getDouble(4)).sum / rows.length
    assert(mean > 0.7 && mean < 1.3, s"mean distortion $mean")
    // determinism: no stored matrix, same planes every call
    val again = SimilarityOps.jlProjectionAudit(emb).collect().map(_.toString).toSeq
    assert(again == rows.map(_.toString).toSeq)
  }

  test("PQ encode: hand codebook reproduces argmin, tie-break, and exact reconstruction") {
    import spark.implicits._
    // dim 4, m=2 subspaces of 2 dims, k=2 codes each
    val centers = Seq(
      (0, 0, Array(0.0, 0.0)), (0, 1, Array(10.0, 10.0)),
      (1, 0, Array(0.0, 0.0)), (1, 1, Array(-10.0, -10.0)))
      .toDF("subspace", "code", "centroid")
    val cb = SimilarityOps.PqCodebook(centers, m = 2, k = 2, subDim = 2)
    val vecs = Seq(
      (1L, Array(10.0, 10.0, 0.0, 0.0)),   // exact centroid concat → err 0
      (2L, Array(1.0, 1.0, -9.0, -9.0)),   // codes (0,1), err 2+2
      (3L, Array(5.0, 5.0, -5.0, -5.0)))   // equidistant both subspaces → code 0 wins ties
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.pqEncode(cb, vecs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((1L, 0L, 0.0)), s"exact reconstruction: ${got(1L)}")
    assert(got(2L)._1 == 0L && got(2L)._2 == 1L &&
      math.abs(got(2L)._3 - 4.0) < 1e-12, s"near codes + err: ${got(2L)}")
    assert(got(3L)._1 == 0L && got(3L)._2 == 0L,
      s"d2 tie must break to the lower code: ${got(3L)}")
  }

  test("PQ fixture: persisted codebook, zero refits, full-corpus encode in range") {
    val builds0 = Artifacts.builds("pq_centers")
    val cb = SimilarityOps.pqCodebookFor(emb)
    val cb2 = SimilarityOps.pqCodebookFor(emb)
    assert(Artifacts.builds("pq_centers") <= builds0 + 1, "at most one fit per corpus")
    assert(cb2.subDim == cb.subDim && cb.subDim * cb.m == 64)
    assert(cb.centers.count() == cb.m.toLong * cb.k)
    val codes = SimilarityOps.pqEncode(cb, emb).collect()
    assert(codes.length == emb.count().toInt, "every vector encodes")
    codes.foreach { r =>
      (1 to 4).foreach(i => assert(r.getLong(i) >= 0 && r.getLong(i) < cb.k,
        s"code out of range: $r"))
      assert(r.getDouble(5) >= 0.0, s"negative reconstruction error: $r")
    }
  }

  test("PQ ADC recall is exact on well-separated planted clusters") {
    import spark.implicits._
    // 4 groups x 11 vectors; group prototypes far apart, per-vector
    // noise tiny, so each query's exact top-10 is exactly its 10
    // group-mates — and with the prototypes AS the codebook, every
    // group-mate shares the query group's codes, so ADC ranks all 10
    // first (any intra-group ADC ties land inside the same set).
    val protos = Seq(
      (Array(0.0, 0.0), Array(0.0, 0.0)),
      (Array(100.0, 0.0), Array(0.0, 100.0)),
      (Array(-100.0, 0.0), Array(0.0, -100.0)),
      (Array(0.0, 100.0), Array(100.0, 0.0)))
    val vecs = (for {
      g <- 0 until 4; j <- 0 until 11
    } yield {
      val (a, b) = protos(g)
      val eps = 0.01 * (j + 1)
      ((g * 11 + j).toLong,
        Array(a(0) + eps, a(1) - eps, b(0) + eps, b(1) + eps))
    }).toDF("vec_id", "embedding")
    val centers = protos.zipWithIndex.flatMap { case ((a, b), g) =>
      Seq((0, g, a), (1, g, b)) }.toDF("subspace", "code", "centroid")
    val cb = SimilarityOps.PqCodebook(centers, m = 2, k = 4, subDim = 2)
    val rows = SimilarityOps.pqAdcRecall(cb, vecs, nQueries = 3, k = 10).collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.getLong(1) == 10L && r.getLong(2) == 10L,
      s"planted-cluster recall must be perfect: $r"))
    // fixture: report covers every query, hits bounded by k
    val fixCb = SimilarityOps.pqCodebookFor(emb)
    val fix = SimilarityOps.pqAdcRecall(fixCb, emb).collect()
    assert(fix.length == 5)
    fix.foreach(r => assert(r.getLong(1) >= 0L && r.getLong(1) <= r.getLong(2)))
  }

  test("truncation fidelity counts exactly the neighbors the prefix ranking preserves") {
    import spark.implicits._
    // q0=(1,0,0,0); a matches in full and prefix; b matches in full,
    // survives the prefix; d has a PERFECT 2-dim prefix but a hostile
    // tail — the truncated ranking admits it and evicts b
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0f, 0f, 0.1f)),   // a
      (2L, Array(0.9f, 0.1f, 0f, 0f)), // b
      (3L, Array(0f, 1f, 5f, 5f)),     // c: far in both
      (4L, Array(1f, 0f, -5f, 5f)))    // d: prefix-perfect, full-hostile
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.truncationFidelity(vecs, dims = Seq(2),
        nQueries = 1, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // exact top-2 = {a, b}; prefix-2 top-2 = {a, d} (d ties a at cos 1,
    // b is evicted) → exactly one preserved neighbor
    assert(got((2L, 0L)) == ((1L, 2L)), s"prefix-2 must preserve exactly a: $got")
    // fixture: full dims×queries coverage, hits bounded by k
    val fix = SimilarityOps.truncationFidelity(emb).collect()
    assert(fix.length == 10)
    fix.foreach(r => assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(3)))
  }

  test("incremental semantic probe: a stored copy flags dup to its original, a novel vector does not") {
    import spark.implicits._
    val idx = SimilarityOps.ivfIndexFor(emb)
    val builds0 = Artifacts.builds("ivf_assign")
    val proto = emb.filter(col("vec_id") === 7).collect()(0)
      .getSeq[Float](1).toArray
    val batch = Seq(
      (7000001L, proto),            // exact copy of stored vec 7
      (7000002L, proto.reverse))    // novel direction
      .toDF("vec_id", "embedding")
    val got = SimilarityOps.ivfSemanticProbe(idx, batch).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.get(2), Option(r.get(3)).map(_ => r.getDouble(3)),
          r.getBoolean(4)))).toMap
    assert(Artifacts.builds("ivf_assign") == builds0, "probe must never refit the index")
    val (nCand, bestMatch, bestScore, isDup) = got(7000001L)
    assert(isDup && bestMatch == 7L && bestScore.get > 0.999,
      s"stored copy must flag dup to its original: ${got(7000001L)}")
    assert(nCand > 0L && nCand < emb.count(),
      "candidates must come from probed lists only, not the whole corpus")
    assert(!got(7000002L)._4 && got(7000002L)._3.get < 0.95,
      s"novel vector must pass: ${got(7000002L)}")
    // verdict-first composition: only the keeper joins the index
    val keepers = batch.join(
      SimilarityOps.ivfSemanticProbe(idx, batch).filter(!col("is_dup"))
        .select(col("vec_id")), Seq("vec_id"), "left_semi")
    val report = SimilarityOps.ivfIncrementalAppend(idx, keepers).collect()
    assert(report.map(_.getLong(2)).sum == 1L,
      "exactly the non-dup keeper appends to the index")
  }

  test("PQ drift: identical batch holds, a localized shift fires refit on its subspace only") {
    import spark.implicits._
    val centers = Seq(
      (0, 0, Array(0.0, 0.0)), (0, 1, Array(10.0, 10.0)),
      (1, 0, Array(0.0, 0.0)), (1, 1, Array(-10.0, -10.0)))
      .toDF("subspace", "code", "centroid")
    val cb = SimilarityOps.PqCodebook(centers, m = 2, k = 2, subDim = 2)
    val train = Seq(
      (1L, Array(1.0, 0.0, 0.5, 0.0)),
      (2L, Array(9.0, 10.0, -9.5, -10.0)),
      (3L, Array(0.0, 1.0, 0.0, 0.5)))
      .toDF("vec_id", "embedding")
    val baseline = SimilarityOps.pqErrStats(cb, train)
    // identical batch: per-subspace mse equals the baseline exactly
    val same = SimilarityOps.pqDrift(cb, baseline, train).collect()
    assert(same.length == 2)
    same.foreach { r =>
      assert(math.abs(r.getDouble(5) - 1.0) < 1e-9, s"identity drift: $r")
      assert(!r.getBoolean(6), s"no refit on an identical batch: $r")
    }
    // batch shifted ONLY in subspace 0 (first 2 dims +50)
    val shifted = train.withColumn("embedding",
      expr("concat(transform(slice(embedding, 1, 2), x -> x + 50.0D), " +
        "slice(embedding, 3, 2))"))
    val drift = SimilarityOps.pqDrift(cb, baseline, shifted).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(5), r.getBoolean(6)))).toMap
    assert(drift(0L)._2, s"shifted subspace must fire refit: $drift")
    assert(!drift(1L)._2 && math.abs(drift(1L)._1 - 1.0) < 1e-9,
      s"untouched subspace must hold: $drift")
  }

  test("PQ drift fixture: stored baseline loads with zero refits and equals a recompute") {
    val cb = SimilarityOps.pqCodebookFor(emb)
    val baseline = SimilarityOps.pqBaselineFor(emb)
    val builds0 = (Artifacts.builds("pq_centers"), Artifacts.builds("pq_baseline"))
    val again = SimilarityOps.pqBaselineFor(emb)
    assert(catalogTable(again).map(_.identifier) == catalogTable(baseline).map(_.identifier) &&
      (Artifacts.builds("pq_centers"), Artifacts.builds("pq_baseline")) == builds0,
      "baseline reuse must not refit the quantizers")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val stored = baseline.collect().map(key).toSet
    val re = SimilarityOps.pqErrStats(cb, emb).collect().map(key).toSet
    assert(stored == re,
      "stored baseline must equal a rebuild (decimal sums are order-independent)")
  }

  test("IVF-PQ codes table: persisted with list_id, zero refits on reload, incremental ≡ build") {
    val idx = SimilarityOps.ivfIndexFor(emb)
    val cb = SimilarityOps.ivfPqCodebookFor(idx)
    SimilarityOps.ivfPqCodesFor(idx)
    val pq0 = Artifacts.builds("pq_centers")
    val iv0 = Artifacts.builds("ivf_assign")
    val codes = SimilarityOps.ivfPqCodesFor(idx)
    val t = catalogTable(codes).map(_.identifier.table)
      .getOrElse(fail("the codes must read a catalog table"))
    assert(Artifacts.builds("pq_centers") == pq0 && Artifacts.builds("ivf_assign") == iv0,
      "loading the persisted codes table must fit nothing")
    val desc = spark.sql(s"DESCRIBE EXTENDED $t")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("list_id"),
      s"codes table must carry the list_id bucket spec:\n$desc")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val stored = codes.collect().map(key).toSet
    val rebuilt = SimilarityOps.pqEncodeWithList(cb, SimilarityOps.residualFrame(idx))
      .collect().map(key).toSet
    assert(stored == rebuilt, "stored codes must equal a fresh encode")
    // incremental path ≡ build path: exact copies of stored vectors
    // under new ids must reproduce their originals' (list_id, codes)
    val batch = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + lit(5000000L)).as("vec_id"), col("embedding"))
    val inc = SimilarityOps.ivfPqIncrementalCodes(idx, cb, batch)
      .collect().map(r => (r.getLong(0) - 5000000L,
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val orig = codes.filter(col("vec_id") < 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(inc == orig, "incremental encode must reproduce the stored codes")
    // cell-level maintenance report conserves volume: Σ n_new = batch·m
    val rep = SimilarityOps.ivfPqCodeMaintain(codes,
      SimilarityOps.ivfPqIncrementalCodes(idx, cb, batch)).collect()
    assert(rep.map(_.getLong(4)).sum == 20L * 4,
      "every batch (vector, subspace) lands in exactly one cell")
    assert(rep.forall(r => r.getLong(5) == r.getLong(3) + r.getLong(4)))
  }

  test("IVF rebalance applier: crafted flood flags, split clears, untouched lists reconcile") {
    import spark.implicits._
    val index = SimilarityOps.ivfIndexFor(emb)
    val n = emb.count()
    val sizes = index.assigned
      .selectExpr("CAST(list_id AS BIGINT) AS list_id").groupBy("list_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // target the list nearest its fair share; flood size N solves the
    // integer gates: pre-split (s + 2N)·16 > 2(n + 2N) AND post-split
    // worst child (N + s)·17 < 2(n + 2N) — so the flag MUST fire and
    // the split MUST clear, by arithmetic, not luck
    val (lid, s) = sizes.minBy { case (_, c) => math.abs(c - n / 16) }
    val nLow = (2 * n - 16 * s) / 28 + 1
    val nHigh = (2 * n - 17 * s) / 13 - 1
    assert(nLow < nHigh, s"fixture degenerate: list $lid s=$s n=$n")
    val nf = ((nLow + nHigh) / 2).toInt
    // two lobes: exact copies of the two farthest-apart members of the
    // target list — copies argmin back into the same list, and 2-means
    // separates the lobes (stored members join their nearer lobe)
    // lobe candidates: members whose FOLD-argmin (the incremental
    // assignment arithmetic the copies will go through) provably lands
    // back on the target list — excludes knife-edge boundary members
    // where KMeans.transform and the zip_with fold could disagree
    val asBatch = index.assigned.filter(col("list_id") === lid)
      .select(col("vec_id"),
        expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding"))
    val foldHome = SimilarityOps.ivfIncrementalAssign(index, asBatch)
      .filter(col("list_id") === lid).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val members = index.assigned.filter(col("list_id") === lid)
      .select(col("vec_id"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .filter(m => foldHome(m._1))
    assert(members.length >= 2, "fixture needs two interior members")
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val (m1, m2) = (for { a <- members; b <- members if a._1 < b._1 } yield (a, b))
      .maxBy { case (a, b) => d2(a._2, b._2) }
    val batch = ((0 until nf).map(i => (9600000L + i, m1._2.map(_.toFloat))) ++
        (0 until nf).map(i => (9700000L + i, m2._2.map(_.toFloat))))
      .toDF("vec_id", "embedding")
    val reb = SimilarityOps.ivfRebalanceApply(index, batch)
    val rep = reb.report.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getBoolean(5)))).toMap
    val children = rep.filter { case (_, (parent, split, _, _)) => split && parent == lid }
    assert(children.size == 2, s"target list $lid must split into two children: $rep")
    assert(children.forall { case (_, (_, _, _, imb)) => !imb },
      s"post-split children of $lid must clear the gate: $children")
    // conservation: every member lands exactly once
    assert(rep.values.map(_._3).sum == n + 2 * nf)
    // untouched lists reconcile exactly with stored + batch-assigned counts
    val batchPerList = SimilarityOps.ivfIncrementalAssign(index, batch)
      .groupBy("list_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rep.foreach { case (l, (parent, split, nm, _)) =>
      if (!split) {
        assert(parent == l)
        assert(nm == sizes(l) + batchPerList.getOrElse(l, 0L),
          s"untouched list $l must carry exactly its stored + assigned members")
      }
    }
    // exactly two fitted children carry the target parent
    assert(reb.children.filter(col("parent_list_id") === lid).count() == 2L)
    // the REPAIRED index reconciles with the report list-for-list and
    // is immediately probe-able — the convergence loop's input
    val upd = reb.updated
    val updCounts = upd.assigned.groupBy(col("list_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(updCounts == rep.map { case (l, (_, _, nm, _)) => l -> nm },
      "updated index members must equal the report, list for list")
    assert(upd.centers.count() == upd.nLists.toLong,
      "updated centroid relation carries one row per surviving list")
    assert(SimilarityOps.ivfTopK(upd, nQueries = 2, k = 5, nProbe = 4).count() > 0,
      "the repaired index serves probes")
  }

  test("IVF-PQ codes repair: repaired table ≡ from-scratch encode after a split AND a merge; re-encode is touched-bounded") {
    import spark.implicits._
    val index = SimilarityOps.ivfIndexFor(emb)
    val cb = SimilarityOps.ivfPqCodebookFor(index)
    val codes = SimilarityOps.ivfPqCodesFor(index).localCheckpoint(false)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // SPLIT: the far-cluster flood forces a split, so the repaired
    // codes must re-take residuals against the child centroids —
    // including child 0, which KEEPS the parent list id but gets a
    // re-fit centroid (the subtle stale case)
    val batch = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, x -> 100.0D + CAST(x AS DOUBLE) * 0.01D)")
          .as("embedding"))
    val reb = SimilarityOps.ivfRebalanceApply(index, batch)
    val flagged = reb.children.select(col("parent_list_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "the flood fixture must split at least one list")
    val rep = SimilarityOps.ivfPqCodesRepair(codes, index, reb.updated, cb)
    val scratch = SimilarityOps.pqEncodeWithList(cb,
      SimilarityOps.residualFrame(reb.updated))
    assert(key(rep.codes) == key(scratch),
      "repaired codes must equal a from-scratch encode of the post-split index")
    assert(rep.codes.count() == reb.updated.assigned.count(),
      "one code row per member of the repaired index")
    // boundedness: exactly the flagged lists' stored members plus the
    // batch re-encode (each vector contributes m cell increments)
    val nStale = index.assigned
      .filter(col("list_id").isin(flagged.toSeq: _*)).count() + batch.count()
    val reSum = rep.report.agg(sum(col("n_reencoded"))).head.getLong(0)
    assert(reSum == nStale * cb.m,
      s"re-encode must be touched-bounded: $reSum vs ${nStale * cb.m}")
    // kept rows ride the stored table verbatim — cell-level identity
    // with the stored codes restricted to untouched lists
    val keptSum = rep.report.agg(sum(col("n_kept"))).head.getLong(0)
    assert(keptSum == (codes.count() - (nStale - batch.count())) * cb.m)
    // MERGE: shrink one list far under the low-water gate, merge, and
    // repair — moved members re-encode against their absorbing
    // centroid, survivors' rows are untouched
    val victim = index.assigned
      .groupBy(col("list_id").cast("long").as("list_id")).count()
      .orderBy(col("count"), col("list_id")).head.getLong(0)
    val victimIds = index.assigned
      .filter(col("list_id") === victim).select(col("vec_id"))
      .orderBy(col("vec_id")).limit(1000).collect().map(_.getLong(0)).drop(1)
    val shrunk = SimilarityOps.IvfIndex(
      index.assigned.filter(col("list_id") =!= victim ||
        !col("vec_id").isin(victimIds: _*)),
      index.centers, index.nLists)
    val codes2 = codes.join(
      shrunk.assigned.select(col("vec_id")), Seq("vec_id"), "left_semi")
    val m = SimilarityOps.ivfMergeApply(shrunk, underfullFactor = 4L)
    assert(m.report.filter(col("merged")).count() >= 1L,
      "the shrunk list must merge away")
    val rep2 = SimilarityOps.ivfPqCodesRepair(codes2, shrunk, m.updated, cb)
    val scratch2 = SimilarityOps.pqEncodeWithList(cb,
      SimilarityOps.residualFrame(m.updated))
    assert(key(rep2.codes) == key(scratch2),
      "repaired codes must equal a from-scratch encode of the post-merge index")
    assert(rep2.codes.count() == m.updated.assigned.count())
    // deletion path: the dropped victims' rows are GONE, not kept
    assert(rep2.codes.filter(col("vec_id").isin(victimIds: _*)).count() == 0L)
    // MULTI-ROUND: a second split round re-applies on round 1's
    // repaired index with an empty batch; one repair against (initial,
    // final) still detects every stale row (staleness is
    // content-diffed, not round-counted)
    val round2 = SimilarityOps.ivfRebalanceApply(reb.updated,
      reb.updated.assigned.select(col("vec_id"),
        expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding")).filter(lit(false))).updated
    val rep3 = SimilarityOps.ivfPqCodesRepair(codes, index, round2, cb)
    assert(key(rep3.codes) == key(SimilarityOps.pqEncodeWithList(cb,
        SimilarityOps.residualFrame(round2))),
      "one repair spans both split rounds")
  }

  test("PQ v2 promotion: approved flip serves the v2 encode via the pointer; rejected gate is a no-op on artifacts") {
    import spark.implicits._
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"),
        col("code_3")).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(5000000L)).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .unionByName(batch.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding")))
    // PROMOTE: churn can never exceed topK, so the gate must approve
    val tagP = sf + "#promoA"
    val rep = SimilarityOps.pqPromoteApply(emb, batch, tagP,
      maxChurnPerQuery = 10L).collect()
    val byStep = rep.filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r).toMap
    assert(rep.forall(_.getBoolean(4)), "promoted flag set on every row")
    assert(rep.forall(_.getBoolean(5)), "every cert row clean on promotion")
    assert(byStep("pointer").getLong(3) == 2L, "pointer flipped to v2")
    val (ver, served) = SimilarityOps.pqServingCodesFor(spark, tagP)
    assert(ver == 2L)
    // the promoted path serves ≡ a from-scratch v2 encode of the union
    val scratchV2 = SimilarityOps.pqEncode(
      SimilarityOps.pqCodebookFor(corpus), corpus)
    assert(keyOf(served) == keyOf(scratchV2),
      "promoted serving ≡ from-scratch v2 encode")
    // v1's table is untouched by the flip (the q260 contract)
    val v1 = spark.read.table(SimilarityOps.ensurePqCodesTable(emb))
    assert(keyOf(v1) ==
      keyOf(SimilarityOps.pqEncode(
        SimilarityOps.pqCodebookFor(emb), emb)),
      "v1 codes table still equals the v1 encode of the stored corpus")
    // REJECT: an impossible gate — the applier must be a no-op on
    // artifacts (no v2 codes table, pointer still v1). The v2 tables
    // are keyed by the stored ∪ batch identity, so the rejected
    // promotion gets a batch of its own: the approved one above
    // already built the v2 codes for `batch`
    val tagR = sf + "#promoR"
    val batchR = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(5100000L)).as("vec_id"), col("embedding"))
    val rep2 = SimilarityOps.pqPromoteApply(emb, batchR, tagR,
      maxChurnPerQuery = -1L).collect()
    val byStep2 = rep2.filter(_.getLong(1) == 0L)
      .map(r => r.getString(0) -> r).toMap
    assert(rep2.forall(!_.getBoolean(4)), "nothing promoted")
    assert(!byStep2("gate_max_churn").getBoolean(5),
      "the gate row honestly reports the rejection")
    assert(byStep2("pointer").getLong(3) == 1L &&
      byStep2("pointer").getBoolean(5), "pointer stays at v1")
    assert(byStep2("availability").getBoolean(5),
      "missing == batch size is the honest no-op availability")
    assert(!spark.catalog.tableExists(Artifacts.nameFor("pq_codes",
        Seq(4, 16), Seq(SimilarityOps.unionCorpus(emb, batchR)))),
      "no v2 codes table is created on rejection")
    val (verR, servedR) = SimilarityOps.pqServingCodesFor(spark, tagR)
    assert(verR == 1L)
    assert(keyOf(servedR) ==
      keyOf(spark.read.table(SimilarityOps.ensurePqCodesTable(emb))),
      "the un-promoted path serves v1 unchanged")
  }

  test("flat-PQ serving takedown: both versioned tables purge; a rank-1 served id stops serving") {
    import spark.implicits._
    val tagT = sf + "#ptd"
    val batch = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + lit(5000000L)).as("vec_id"), col("embedding"))
    SimilarityOps.pqPromoteApply(emb, batch, tagT,
      maxChurnPerQuery = 10L).count()
    val (ver0, served0) = SimilarityOps.pqServingCodesFor(spark, tagT)
    assert(ver0 == 2L, "fixture promotes (churn can never exceed topK)")
    // the victim is the CURRENT rank-1 answer for query 0 on the
    // pointer-resolved store — so the probe provably bites
    val corpus = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .unionByName(batch.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding")))
    val cb2 = SimilarityOps.pqCodebookFor(corpus)
    val q0 = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("qvec"))
    val victim = SimilarityOps.pqAdcScoredFromCodes(cb2, q0, served0)
      .filter(col("qid") === 0)
      .orderBy(col("adc_d2"), col("vec_id"))
      .select(col("vec_id")).head.getLong(0)
    val led = SimilarityOps.pqServingTakedown(emb, batch, tagT,
        Seq(victim).toDF("doc_id"), maxChurnPerQuery = 10L).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(led("pointer")._2 == 2L, s"pointer serves v2: $led")
    assert(led.values.forall(_._4), s"every cert row clean: $led")
    // both versioned tables forget the victim (rollback-safe)
    val inV1 = if (victim < 5000000L) 1L else 0L
    val n0 = emb.count()
    assert(led("codes_v1") == ((n0, n0 - inV1, inV1, true)), s"$led")
    assert(led("codes_v2") == ((n0 + 3L, n0 + 2L, 1L, true)), s"$led")
    // the rank-1 id stops serving: the listing ranks the PURGED store
    // and the leak probe counts zero removed slots
    assert(led("serving")._2 == 0L && led("serving")._1 > 0L,
      s"the served listing must exclude the removed rank-1 id: $led")
  }

  test("binary signatures set exactly the positive dims; recall report is sane integers") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.tabulate(64)(d => if (d % 3 == 0) 1.0f else -1.0f)),
      (1L, Array.tabulate(64)(d => if (d % 3 == 0) 1.0f else -1.0f)), // dup of 0
      (2L, Array.fill(64)(-1.0f)))
      .toDF("vec_id", "embedding")
    val sigs = SimilarityOps.binarySignatures(vecs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("sig")).toMap
    // distinct powers of two summed — addition ≡ OR, bit 63 included
    val expected = (0 until 64).filter(_ % 3 == 0).map(1L << _).sum
    assert(sigs(0L) == expected && sigs(1L) == expected,
      "identical vectors must share the signature (hamming 0)")
    assert(sigs(2L) == 0L, "an all-negative vector sets no bits")
    val rep = SimilarityOps.binaryHammingRecall(emb).collect()
    assert(rep.length == 5)
    rep.foreach { r =>
      assert(r.getLong(1) == 50L, "candidate budget honored")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(3) && r.getLong(3) == 10L)
    }
  }

  test("wide binary signatures: word 0 equals the single-long form; d > 64 chain is exact") {
    import spark.implicits._
    // 64-d corpus: m = 1, and word 0 must equal binarySignatures' long
    val s64 = SimilarityOps.binarySignatures(emb).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("sig")).toMap
    val w64 = SimilarityOps.binarySignaturesWide(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("sig"))).toMap
    assert(w64.values.forall(_.length == 1), "64-d must pack into one word")
    assert(w64.forall { case (id, s) => s.head == s64(id) },
      "wide word 0 must equal the single-long signature")
    // 150-d (m = 3, ragged last word): hand vector sets known bits;
    // the zip_with null padding must leave the tail bits clear
    val vecs = Seq(
      (0L, Array.tabulate(150)(d => if (d == 0 || d == 64 || d == 149) 1.0f else -1.0f)),
      (1L, Array.fill(150)(-1.0f))).toDF("vec_id", "embedding")
    val ws = SimilarityOps.binarySignaturesWide(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("sig"))).toMap
    assert(ws(0L) == Seq(1L, 1L, 1L << (149 - 128)), s"got ${ws(0L)}")
    assert(ws(1L) == Seq(0L, 0L, 0L))
    // the q275 128-d fixture: candidate budget honored, hits bounded,
    // and the persisted-wide-sig probe is row-identical to inline
    val wideEmb = emb.select(col("vec_id"),
      expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), " +
           "transform(embedding, x -> 0.5D - CAST(x AS DOUBLE)))").as("embedding"))
    val rep = SimilarityOps.binaryHammingRecallWide(wideEmb).collect()
    assert(rep.length == 5)
    rep.foreach { r =>
      assert(r.getLong(1) == 50L, "candidate budget honored")
      assert(r.getLong(2) >= 0L && r.getLong(2) <= r.getLong(3) && r.getLong(3) == 10L)
    }
  }

  test("ANN ladder aggregates exactly its constituent rung reports") {
    val lad = SimilarityOps.annLadder(emb).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(lad.keySet == Set("binary_sign64", "int8_sym127", "ivf16_pq4",
      "pq4x16", "trunc_16", "trunc_32"))
    // every rung scored the same query set: Σk = nQueries·k
    assert(lad.values.forall(_._3 == 50L), s"Σk must be 5·10 per rung: $lad")
    // recall_ppm is the integer quotient of its own row
    lad.values.foreach { case (_, hits, k, ppm) =>
      assert(ppm == hits * 1000000L / k)
    }
    // cross-check two rungs against the certified per-query reports
    val pq = SimilarityOps.pqAdcRecall(
        SimilarityOps.pqCodebookFor(emb), emb).collect()
    assert(lad("pq4x16")._2 == pq.map(_.getLong(1)).sum)
    val bin = SimilarityOps.binaryHammingRecall(emb).collect()
    assert(lad("binary_sign64")._2 == bin.map(_.getLong(2)).sum)
    // storage-cost column carries the documented constants
    assert(lad("binary_sign64")._1 == 8L && lad("int8_sym127")._1 == 72L &&
      lad("pq4x16")._1 == 4L && lad("ivf16_pq4")._1 == 12L &&
      lad("trunc_16")._1 == 64L && lad("trunc_32")._1 == 128L)
  }

  test("serving-policy selector picks the provably cheapest qualifying config per tier") {
    val sel = SimilarityOps.servingPolicySelector(emb).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // rebuild the config table straight from the constituent PUBLIC
    // reports — the selector's winner must equal an independent argmin
    // over those rows, so its numbers ARE the reports' verbatim
    val idx = SimilarityOps.ivfIndexFor(emb)
    val n = emb.count()
    val lad = SimilarityOps.annLadder(emb).collect()
      .filter(_.getString(0) != "ivf16_pq4")
      .map(r => (r.getString(0), r.getLong(1), 5L * (n - 1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val ex = SimilarityOps.ivfProbeSweep(idx).collect()
      .map(r => (s"ivf_exact_np${r.getLong(0)}", 8L * 64 + 8,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val cp = SimilarityOps.ivfPqProbeSweep(idx,
        SimilarityOps.ivfPqCodebookFor(idx), emb,
        SimilarityOps.ivfPqCodesFor(idx)).collect()
      .map(r => (s"ivf16_pq4_np${r.getLong(0)}", 12L,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val cfgs = lad ++ ex ++ cp
    val tiers = Seq(500000L, 700000L, 800000L, 900000L, 950000L, 1000000L)
    assert(sel.keySet == tiers.toSet, s"one row per tier: ${sel.keySet}")
    for (tier <- tiers) {
      val winner = cfgs.filter(_._6 >= tier)
        .sortBy(c => (c._2, c._3, c._1)).headOption
      assert(winner.isDefined, s"tier $tier must have a qualifying config " +
        "(the full probe is exact, so recall 10^6 always exists)")
      assert(sel(tier) == winner.get, s"tier $tier: got ${sel(tier)}, expected ${winner.get}")
    }
  }

  test("ANN ladder + selector run on a production-width 128-d corpus via the wide binary path") {
    // VERDICT r15 #3: the ladder priced 8·⌈d/64⌉ bytes but scored the
    // binary rung through the d ≤ 64 guard, so q266/q274 RAISED on
    // production-width embeddings. This drives both capstones over
    // the q275 128-d fixture end-to-end.
    val wideEmb = emb.select(col("vec_id"),
      expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), " +
           "transform(embedding, x -> 0.5D - CAST(x AS DOUBLE)))").as("embedding"))
    val lad = SimilarityOps.annLadder(wideEmb).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(lad.keySet == Set("binary_sign64", "int8_sym127", "ivf16_pq4",
      "pq4x16", "trunc_16", "trunc_32"))
    // dimension-law pricing: 8·⌈128/64⌉ = 16 B and 128 + 8 = 136 B
    assert(lad("binary_sign64")._1 == 16L, s"got $lad")
    assert(lad("int8_sym127")._1 == 136L, s"got $lad")
    assert(lad.values.forall(_._3 == 50L), s"Σk must be 5·10 per rung: $lad")
    // the binary rung is SCORED by the wide path over the persisted
    // wide-sig table (the single-long form raises at d > 64)
    val bin = SimilarityOps.binaryHammingRecallWide(wideEmb).collect()
    assert(lad("binary_sign64")._2 == bin.map(_.getLong(2)).sum,
      "wide ladder binary rung must aggregate binaryHammingRecallWide")
    // the selector composes over the wide artifacts end-to-end: one
    // row per tier, each winner actually meeting its tier
    val sel = SimilarityOps.servingPolicySelector(wideEmb)
      .collect()
    assert(sel.length == 6, s"one winner per tier: ${sel.length}")
    sel.foreach(r => assert(r.getLong(6) >= r.getLong(0),
      s"winner must meet its tier: $r"))
    // the exact dial's bytes law follows the dimension too: 8·128 + 8
    assert(sel.exists(_.getString(1).startsWith("ivf_exact_np")) ||
      sel.forall(r => r.getLong(2) <= 8L * 128 + 8),
      "selector config space must include the wide-priced exact dial")
  }

  test("takedown serving cert runs at production width (128-d wide signatures)") {
    // the r15-#3 class, one level up: the binary serving surface used
    // the single-long Hamming expression, so the q277 cert could not
    // run on a d > 64 corpus despite the wide-sig store existing.
    // hammingOf now adapts to the signature type — drive the FULL
    // cert over the 128-d fixture with the wide store.
    val docs = Tables.documents(spark, sf)
    val wideEmb = emb.select(col("vec_id"),
      expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), " +
           "transform(embedding, x -> 0.5D - CAST(x AS DOUBLE)))").as("embedding"))
    val idx = SimilarityOps.ivfIndexFor(wideEmb)
    val cb = SimilarityOps.pqCodebookFor(wideEmb)
    val sigs = SimilarityOps.binarySigsWideFor(wideEmb)
    val rm = docs.filter(pmod(col("doc_id"), lit(17)) === 6)
      .select(col("doc_id"))
    val cert = CorpusOps.takedownServingCert(rm,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        wideEmb, idx, cb, sigs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(6)))).toMap
    assert(cert.keySet == Set("bm25", "exact_cosine", "ivf_exact",
      "pq_adc", "binary_hamming"), s"all five surfaces: ${cert.keySet}")
    cert.foreach { case (s, (pre, post, _, leaked, clean)) =>
      assert(leaked == 0L && clean && post == pre,
        s"surface $s must serve clean full listings at 128-d: ${cert(s)}")
    }
    // the wide binary surface really ranks by the per-word law: its
    // post-purge listing must equal the recall chain's top ids
    assert(cert("binary_hamming")._1 > 0)
  }

  test("wide-signature store rides the takedown LEDGER and the quarantine round-trip") {
    // VERDICT r16 #5: the q277-at-width cert proved the wide store
    // SERVABLE post-purge, but no ledger row ever purged it — a
    // removed vector's wide signature outlived a takedown the ledger
    // called clean. This drives the purge through the LEDGER path.
    val docs = Tables.documents(spark, sf)
    val wideEmb = emb.select(col("vec_id"),
      expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), " +
           "transform(embedding, x -> 0.5D - CAST(x AS DOUBLE)))").as("embedding"))
    val wSigs = SimilarityOps.binarySigsWideFor(wideEmb)
      .localCheckpoint(false)
    val rm = docs.filter(pmod(col("doc_id"), lit(17)) === 4)
      .select(col("doc_id")).localCheckpoint(false)
    val nRm = wSigs.join(rm.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi").count()
    assert(nRm > 0, "fixture must remove at least one wide signature")
    val fp = docs.select(col("doc_id"), md5(col("text")).as("fp_md5"))
    val led = CorpusOps.takedownStores(docs, rm,
        TextOps.lmModelFor(docs), CorpusOps.corpusCardState(docs),
        fp, SimilarityOps.binarySigsFor(emb),
        binarySigsWide = Some(wSigs)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(led(("binary_sigs_wide", "all")) ==
      ((wSigs.count(), wSigs.count() - nRm, nRm, true)),
      s"wide row must purge through the ledger: ${led(("binary_sigs_wide", "all"))}")
    // quarantine round-trip: the wide store purges AND restores
    // commitment-identical from the quarantined wide vectors
    val idx = SimilarityOps.ivfIndexFor(emb)
    val qled = CorpusOps.quarantineRoundTrip(docs, emb, rm,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        DedupOps.docSketchesFor(Tables.documents(spark, sf)), fp,
        TextOps.lmModelFor(docs), CorpusOps.corpusCardState(docs),
        idx, SimilarityOps.ivfPqCodesFor(idx),
        SimilarityOps.ivfPqCodebookFor(idx),
        SimilarityOps.binarySigsFor(emb),
        wide = Some((wideEmb, wSigs))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val w = qled("binary_sigs_wide")
    assert(w._4, s"restored wide store must be commitment-identical: $w")
    assert(w._1 == wSigs.count() && w._2 == wSigs.count() - nRm &&
      w._3 == w._1, s"wide round-trip counts: $w")
  }

  test("hard negatives: band excludes a planted duplicate, hardest ranked first") {
    import spark.implicits._
    // plant an exact copy of anchor 0 — a positive/duplicate, which
    // the band's upper edge must keep OUT of the negative set
    val dup = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(9990000L))
    val negs = SimilarityOps.hardNegatives(emb.unionByName(dup)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(negs.nonEmpty)
    assert(!negs.exists(n => n._1 == 0L && n._2 == 9990000L),
      "an exact duplicate (cosine 1) must never mine as a negative")
    assert(negs.forall(n => n._3 >= 0.10 && n._3 < 0.95), "band honored")
    negs.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        "hardest (highest-cosine) negatives rank first")
    }
  }

  test("IVF rebalance round 1: a one-split-resistant flood stays flagged") {
    val index = SimilarityOps.ivfIndexFor(emb)
    // the q259 catalog flood: 1/7 of the corpus near (100, …) — round
    // 1 separates flood from stored but the flood child stays over
    // the gate
    val batch = emb.filter(col("vec_id") % 7 === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("transform(embedding, x -> 100.0D + CAST(x AS DOUBLE) * 0.01D)")
          .as("embedding"))
    val r1 = SimilarityOps.ivfRebalanceApply(index, batch)
    assert(r1.report.filter(col("imbalanced")).count() > 0,
      "round 1 must leave the flood child flagged (the one-split-resistant case)")
  }

  test("PQ refit applier: in-distribution batch is a no-op on artifacts") {
    import spark.implicits._
    // the v2 artifacts are keyed by the stored ∪ batch identity, and
    // this batch (vec_id + 9800000) is used by no other test, so the
    // no-op claim is tested on artifacts only this test could create
    SimilarityOps.pqCodebookFor(emb) // v1 (at most one fit)
    SimilarityOps.pqBaselineFor(emb)
    val v1Table = Artifacts.nameFor("pq_centers", Seq(4, 16), Seq(emb))
    val v1Before = spark.table(v1Table).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val batch = emb.filter(col("vec_id") % 5 === 2)
      .select((col("vec_id") + lit(9800000L)).as("vec_id"), col("embedding"))
    val builds0 = Artifacts.builds("pq_centers")
    val rep = SimilarityOps.pqRefitApply(emb, batch).collect()
    assert(rep.nonEmpty && rep.forall(!_.getBoolean(1)),
      "in-distribution batch must not fire the refit trigger")
    assert(rep.forall(r => r.getLong(2) == r.getLong(3)),
      "no-op report mirrors v1 recall in the v2 column")
    assert(Artifacts.builds("pq_centers") == builds0, "no-op path must fit nothing")
    assert(!spark.catalog.tableExists(Artifacts.nameFor("pq_centers",
        Seq(4, 16), Seq(SimilarityOps.unionCorpus(emb, batch)))),
      "no-op path must not create the v2 table")
    val v1After = spark.table(v1Table).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(v1After == v1Before, "v1 codebook bytes untouched")
  }

  test("PQ refit applier: drifting batch fires, v2 is a new versioned table, v1 untouched") {
    import spark.implicits._
    SimilarityOps.pqCodebookFor(emb)
    val v1Table = Artifacts.nameFor("pq_centers", Seq(4, 16), Seq(emb))
    val v1Before = spark.table(v1Table).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val batch = emb.filter(col("vec_id") % 5 === 2)
      .select((col("vec_id") + lit(9900000L)).as("vec_id"),
        expr("concat(transform(slice(embedding, 1, 16), " +
          "x -> CAST(x AS DOUBLE) * 3.0D), " +
          "transform(slice(embedding, 17, 48), x -> CAST(x AS DOUBLE)))")
          .as("embedding"))
    val rep = SimilarityOps.pqRefitApply(emb, batch).collect()
    assert(rep.nonEmpty && rep.forall(_.getBoolean(1)), "drift batch must fire")
    assert(spark.catalog.tableExists(Artifacts.nameFor("pq_centers",
        Seq(4, 16), Seq(SimilarityOps.unionCorpus(emb, batch)))),
      "fired path persists the v2 codebook as its own catalog table")
    val v1After = spark.table(v1Table).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    assert(v1After == v1Before,
      "v2 fit must never overwrite v1 — old encodes stay reproducible")
  }

  test("cross-modal gate: identical caption aligns, planted mismatch drops, mass conserves") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    // crafted pair: caption == payload (≤ 64 chars) must align with
    // cosine exactly 1; the long doc's FNV features diverge from its
    // caption prefix's below the 0.9 gate (deterministic stub — the
    // pair is pinned, not lucky)
    val crafted = Seq(
      (9100001L, "short caption only", "srcA"),
      (9100002L, "a proper caption describing a sunset over mountains " + "x" * 200,
        "srcA"))
      .toDF("doc_id", "text", "source")
    val cs = MultimodalOps.crossModalScores(crafted).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(cs(9100001L), "caption == payload must align")
    assert(!cs(9100002L), "planted mismatched caption/media pair must drop")
    // on the real corpus: both branches live, and per-source mass conserves
    val gate = MultimodalOps.crossModalAlignmentGate(docs).collect()
    assert(gate.forall(r => r.getLong(1) == r.getLong(2) + r.getLong(3)),
      "every doc is exactly aligned or dropped")
    assert(gate.map(_.getLong(1)).sum == docs.count(), "gate loses no documents")
    assert(gate.map(_.getLong(2)).sum > 0 && gate.map(_.getLong(3)).sum > 0,
      "both gate branches must be live on the corpus")
  }

  test("cross-modal retrieval: caption==payload queries rank their own media first") {
    import spark.implicits._
    val docs = Seq(
      (0L, "tiny caption doc", "s"),
      (1L, "another document with a long tail " + "y" * 150, "s"),
      (2L, "third text body " + "z" * 90, "s"),
      (3L, "fourth " + "w" * 300, "s"),
      (4L, "fifth short one", "s"),
      (5L, "candidate only " + "q" * 120, "s"))
      .toDF("doc_id", "text", "source")
    val r = MultimodalOps.crossModalRetrieval(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L), "one report row per query")
    assert(r.values.forall(_._2 == 6L), "all media are candidates")
    assert(r(0L)._1 == 1L && r(4L)._1 == 1L,
      "a caption identical to its payload embeds identically → rank 1")
    assert(r.values.forall(v => v._1 >= 1L && v._1 <= 6L))
  }

  test("cross-media duplicate frames surface a shared aligned block only") {
    import spark.implicits._
    val shared = "S" * 64 // frame 0 of docs 1 and 2
    val docs = Seq(
      (1L, shared + ("x" * 80), "en", "s"),
      (2L, shared + ("y" * 90), "en", "s"),
      (3L, "z" * 200, "en", "s"), // no shared frames
    ).toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
    val got = MultimodalOps.crossMediaDupFrames(docs).collect()
    assert(got.length == 1, s"exactly the shared frame: ${got.toSeq}")
    assert(got(0).getLong(1) == 2L && got(0).getLong(2) == 2L)
    assert(got(0).getLong(3) == 1L && got(0).getLong(4) == 2L)
  }

  test("rebalance memo keys on the full gate parameters, not just the tag") {
    import spark.implicits._
    // the promoMemo lesson (ADVICE r17) applied to ivfRebalanceFor: a
    // second call with a different imbalanceFactor must re-run the
    // gate, not inherit the first call's memoized decision
    val dim = 8
    def pt(axis: Int, v: Float) = Array.tabulate(dim)(d => if (d == axis) v else 0f)
    val corpus = ((0 until 20).map(i => (i.toLong, pt(0, 10f))) ++
      (20 until 40).map(i => (i.toLong, pt(1, 10f + (i % 5) * 0.1f))) ++
      (40 until 60).map(i => (i.toLong, pt(2, -10f - (i % 5) * 0.1f))) ++
      (60 until 80).map(i => (i.toLong, pt(3, 10f + (i % 7) * 0.1f))))
      .toDF("vec_id", "embedding")
    val idx = SimilarityOps.buildIvfIndex(corpus, nLists = 4)
    val flood = (0 until 100).map(i => (600000L + i, pt(0, 10f)))
      .toDF("vec_id", "embedding")
    val strict = SimilarityOps.ivfRebalanceFor(idx, flood)
    assert(strict.report.collect().exists(_.getBoolean(2)),
      "factor 2 must flag and split the flooded list")
    val lax = SimilarityOps.ivfRebalanceFor(idx, flood,
      imbalanceFactor = 1000000L)
    assert(!lax.report.collect().exists(_.getBoolean(2)),
      "a laxer gate under the same tag must re-run, not inherit the split")
  }

  test("rebalance drops a zero-member child: an all-identical flood leaves no dead list") {
    import spark.implicits._
    // 4 well-separated clusters; cluster A is ONE point repeated, so
    // the flagged list's k=2 fit returns duplicate centers and the
    // argmin tie-break sends every member to the lower child id —
    // the ADVICE r13 degenerate case: child 1 must be DROPPED, not
    // persisted as a dead list inflating the fair-share denominator
    val dim = 8
    def pt(axis: Int, v: Float) = Array.tabulate(dim)(d => if (d == axis) v else 0f)
    val corpus = ((0 until 20).map(i => (i.toLong, pt(0, 10f))) ++          // A: identical
      (20 until 40).map(i => (i.toLong, pt(1, 10f + (i % 5) * 0.1f))) ++     // B
      (40 until 60).map(i => (i.toLong, pt(2, -10f - (i % 5) * 0.1f))) ++    // C
      (60 until 80).map(i => (i.toLong, pt(3, 10f + (i % 7) * 0.1f))))       // D
      .toDF("vec_id", "embedding")
    val idx = SimilarityOps.buildIvfIndex(corpus, nLists = 4)
    val flood = (0 until 100).map(i => (500000L + i, pt(0, 10f)))
      .toDF("vec_id", "embedding")
    val fits0 = SimilarityOps.rebFits
    val reb = SimilarityOps.ivfRebalanceApply(idx, flood)
    assert(SimilarityOps.rebFits == fits0 + 1, "exactly the flagged list re-fits")
    val rep = reb.report.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3))))
    val splits = rep.filter(_._2._2)
    assert(splits.length == 1, s"one live child, the empty one dropped: ${rep.toSeq}")
    val (childId, (parentId, _, nMembers)) = splits.head
    assert(childId == parentId, "tie-break keeps the lower (parent) child id")
    assert(nMembers == 120L, "every flood + stored member lands on the live child")
    assert(reb.children.count() == 1L, "dumped children carry only the live child")
    assert(reb.updated.nLists == 4, "net list count unchanged: parent out, one child in")
    assert(reb.updated.centers.count() == 4L,
      "centroid relation carries no dead list")
    assert(rep.map(_._2._3).sum == 180L, "conservation across the degenerate split")
    assert(SimilarityOps.ivfTopK(reb.updated, nQueries = 2, k = 5, nProbe = 2)
      .count() > 0, "the repaired index serves probes")
  }

  test("binary signatures fail fast beyond 64 dims instead of silently wrapping") {
    import spark.implicits._
    val tooWide = Seq((0L, Array.fill(65)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.binarySignatures(tooWide).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("dimension <= 64")),
      s"the d>64 guard must surface its own error, got: $e")
  }

  test("nProbe sweep: candidates and recall ladder up; full probe is exact") {
    val idx = SimilarityOps.ivfIndexFor(emb)
    val sweep = SimilarityOps.ivfProbeSweep(idx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    assert(sweep.forall(_._4 == 50L), "every rung scores the same 5x10 query set")
    // more probed lists never shrink the candidate set or the recall
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"candidates monotone: $a vs $b")
      assert(a._5 <= b._5, s"recall monotone: $a vs $b")
    }
    val full = sweep.last
    assert(full._2 == 5L * (emb.count() - 1),
      "nProbe = nLists scans everything except self")
    assert(full._5 == 1000000L, "a full probe IS the exact top-k")
    // each row's ppm is the integer quotient of its own hits
    sweep.foreach { case (_, _, hits, k, ppm) => assert(ppm == hits * 1000000L / k) }
    // the fixed q67 operating point agrees with its rung
    val q67 = SimilarityOps.ivfTopK(idx, nQueries = 5, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SimilarityOps.cosineTopK(emb, nQueries = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sweep.find(_._1 == 4L).get._3 == q67.intersect(exact).size.toLong,
      "the sweep's nProbe=4 hits equal the audited q67 overlap")
  }

  test("takedown propagation: one removed doc flags exactly its artifact rows, df reconciles") {
    val docs = Tables.documents(spark, sf)
    val removedId = 10L
    val removal = docs.filter(col("doc_id") === removedId).select(col("doc_id"))
    val idx = SimilarityOps.ivfIndexFor(emb)
    val res = CorpusOps.takedownPropagation(
      docs, removal,
      RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf.toString)),
      RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf.toString)),
      DedupOps.docSketchesFor(Tables.documents(spark, sf.toString)),
      idx.assigned,
      SimilarityOps.ivfPqCodesFor(idx)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def sec(a: String) = res.filter(_._1 == a).toSeq
    // conservation on EVERY row, by recount not by construction trust
    res.foreach { case (a, k, nr, nb, na) =>
      assert(na == nb - nr, s"conservation broken at $a/$k")
      // manifest_cert rows are the staleness certificate — n_remove 0
      // IS their fresh verdict; every other section lists affected keys
      assert(nr >= 1L || a == "manifest_cert",
        s"only affected keys may appear: $a/$k")
    }
    res.filter(_._1 == "manifest_cert").foreach { case (_, k, nr, _, _) =>
      assert(nr == 0L, s"fresh manifest must certify clean at $k")
    }
    val anchor = sec("removal")
    assert(anchor == Seq(("removal", "n_docs", 1L, docs.count(), docs.count() - 1)))
    assert(sec("sketches") == Seq(("sketches", "10", 1L, 1L, 0L)),
      "exactly the removed doc's sketch row")
    assert(sec("fingerprints").map(_._3).sum == 1L, "one fingerprint to drop")
    // postings keys == the removed doc's distinct tokens; every df
    // correction is exactly -1 (a single removed doc)
    val rmTerms = docs.filter(col("doc_id") === removedId)
      .select(explode(expr(s"array_distinct(regexp_extract_all(lower(text), '${TextOps.tokenRe}', 0))")))
      .collect().map(_.getString(0)).toSet
    val post = sec("postings")
    assert(post.map(_._2).toSet == rmTerms, "df ledger covers exactly the doc's vocabulary")
    assert(post.forall(_._3 == 1L), "single-doc removal corrects each df by 1")
    val stats = sec("corpus_stats").map(t => t._2 -> ((t._3, t._4))).toMap
    assert(stats("n_docs")._1 == 1L && stats("n_docs")._2 == docs.count())
    val rmDl = docs.filter(col("doc_id") === removedId)
      .select(size(expr(s"regexp_extract_all(lower(text), '${TextOps.tokenRe}', 0)")).cast("long"))
      .head().getLong(0)
    assert(stats("sum_dl")._1 == rmDl, "token-mass correction equals the doc's length")
    // index artifacts: exactly the removed vector's one list, in BOTH
    // the assignment table and the codes table
    val rmList = idx.assigned.filter(col("vec_id") === removedId)
      .select(col("list_id").cast("long")).head().getLong(0)
    assert(sec("ivf_assign").map(t => (t._2, t._3)) == Seq((rmList.toString, 1L)))
    assert(sec("pq_codes").map(t => (t._2, t._3)) == Seq((rmList.toString, 1L)))
    // sequences: exactly the manifest rows the removed doc composes
    val rmSeqs = CorpusOps.sequenceManifest(docs)
      .filter(col("doc_id") === removedId)
      .select(concat(col("lang"), lit(":"), col("seq_id")))
      .collect().map(_.getString(0)).toSet
    val seqs = sec("sequences")
    assert(seqs.map(_._2).toSet == rmSeqs, "rebuild set = the doc's own sequences")
    assert(seqs.forall(_._3 == 1L), "a doc appears once per sequence")
    // shards: the distinct shards of those sequences
    val rmShards = rmSeqs.map { s =>
      val Array(lang, seq) = s.split(":"); s"$lang:${seq.toLong / 16}"
    }
    assert(sec("shards").map(_._2).toSet == rmShards)
  }

  test("IVF merge applier: underfull lists dissolve to their true nearest survivors") {
    val idx = SimilarityOps.ivfIndexFor(emb)
    // the q271 fixture: a deletion-heavy purge leaves lists 0-2 at
    // ~14% of their population — the underfull gate must fire
    val purged = SimilarityOps.IvfIndex(
      idx.assigned.filter(not(col("list_id").cast("long") < 3 &&
        pmod(col("vec_id"), lit(7)) =!= 0)),
      idx.centers, idx.nLists)
    val m = SimilarityOps.ivfMergeApply(purged)
    val rep = m.report.collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // the gate, recomputed independently from the purged assignments
    val counts = purged.assigned
      .groupBy(col("list_id").cast("long").as("l")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val expectedMerged = (0L until idx.nLists.toLong)
      .filter(l => counts.getOrElse(l, 0L) * idx.nLists * 4 < total).toSet
    assert(expectedMerged.nonEmpty, s"fixture must exercise the merge branch: $counts")
    assert(rep.filter(_._2).map(_._1).toSet == expectedMerged,
      "flagged set = the integer gate, list for list")
    assert(rep.map(_._5).sum == total, "conservation: every member lands once")
    assert(rep.filter(_._2).forall(_._5 == 0L), "merged lists end empty")
    assert(rep.filter(!_._2).forall(t => t._5 == t._3 + t._4),
      "survivors carry their own members plus the absorbed")
    assert(m.updated.nLists == idx.nLists - expectedMerged.size)
    assert(m.updated.centers.count() == m.updated.nLists.toLong,
      "no dead centroid survives the merge")
    assert(m.updated.assigned.count() == total)
    // the per-member reassignment IS the incremental-assign argmin
    // against the survivor-only centroid set — bit-identical fold
    val movers = purged.assigned
      .filter(col("list_id").cast("long").isin(expectedMerged.toSeq: _*))
      .select(col("vec_id"),
        expr("transform(vec, x -> CAST(x AS FLOAT))").as("embedding"))
    val expect = SimilarityOps.ivfIncrementalAssign(m.updated, movers)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = m.updated.assigned
      .join(movers.select(col("vec_id")), "vec_id")
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, "moved members sit at their true nearest survivor")
    assert(SimilarityOps.ivfTopK(m.updated, nQueries = 2, k = 5, nProbe = 2)
      .count() > 0, "the merged index serves probes")
  }

  test("IVF-PQ nProbe sweep: candidates ladder up, every rung equals the audited q255 chain") {
    val idx = SimilarityOps.ivfIndexFor(emb)
    val cb = SimilarityOps.ivfPqCodebookFor(idx)
    val codes = SimilarityOps.ivfPqCodesFor(idx)
    val sweep = SimilarityOps.ivfPqProbeSweep(idx, cb, emb, codes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sweep.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L, 16L))
    assert(sweep.forall(_._4 == 50L), "every rung scores the same 5x10 query set")
    // more probed lists never shrink the candidate set (recall may
    // legitimately dip — ADC is quantized — so it is NOT asserted
    // monotone; fidelity is pinned to the audited q255 chain instead)
    sweep.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"candidates monotone: $a vs $b")
    }
    assert(sweep.last._2 == 5L * (emb.count() - 1),
      "nProbe = nLists prices every stored code except self")
    sweep.foreach { case (_, _, hits, k, ppm) => assert(ppm == hits * 1000000L / k) }
    // each rung ≡ the q255 report run at that nProbe, number for number
    for (p <- Seq(1, 4, 16)) {
      val rep = SimilarityOps.ivfPqRecall(idx, cb, emb, codes, nProbe = p).collect()
      val row = sweep.find(_._1 == p.toLong).get
      assert(row._2 == rep.map(_.getLong(1)).sum, s"candidates at nProbe=$p")
      assert(row._3 == rep.map(_.getLong(2)).sum, s"hits at nProbe=$p")
    }
  }

  test("takedown apply: purge executes clean, token mass conserves, plan and apply reconcile") {
    val docs = Tables.documents(spark, sf)
    val removedId = 10L
    val removal = docs.filter(col("doc_id") === removedId).select(col("doc_id"))
    val idx = SimilarityOps.ivfIndexFor(emb)
    val postings = RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf))
    val args = (docs, removal, postings,
      RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
      DedupOps.docSketchesFor(Tables.documents(spark, sf)),
      idx.assigned,
      SimilarityOps.ivfPqCodesFor(idx))
    val res = CorpusOps.takedownApply(args._1, args._2, args._3, args._4,
        args._5, args._6, args._7).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // the executed purge is CLEAN everywhere, recounted not assumed
    assert(res.values.forall(_._4), s"no removed key may survive any artifact: $res")
    res.foreach { case (k, (nb, na, nr, _)) =>
      assert(nr == nb - na, s"delta accounting at $k")
    }
    // doc-keyed stores each lose exactly the one removed row
    Seq("fingerprints", "sketches", "doc_lengths", "ivf_assign", "pq_codes")
      .foreach { a => assert(res((a, "all"))._3 == 1L, s"$a removes one row") }
    // postings: apply's executed delta == the q268 PLAN's df ledger sum
    val plan = CorpusOps.takedownPropagation(args._1, args._2, args._3,
        args._4, args._5, args._6, args._7).collect()
      .map(r => (r.getString(0), r.getLong(2)))
    assert(res(("postings", "all"))._3 ==
      plan.filter(_._1 == "postings").map(_._2).sum,
      "the apply removes exactly the rows the plan flagged")
    // token-mass conservation: the removed doc's lang loses exactly
    // its token count; every other lang's packed mass is untouched
    val (rmLang, rmToks) = docs.filter(col("doc_id") === removedId)
      .select(col("lang"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).head
    res.collect { case (("seq_tokens", lang), (_, _, nr, _)) =>
      assert(nr == (if (lang == rmLang) rmToks else 0L),
        s"token mass: lang $lang removed $nr, expected ${if (lang == rmLang) rmToks else 0L}")
    }
  }

  test("takedown counts ACTUAL store membership: a doc-subsetted sketch store fails loudly, not silently") {
    // VERDICT r15 #4 (ADVICE r14 #5): the sketch sections must derive
    // from the store's own rows, never from an assumed 1:1 with
    // documents — a future quality-filtered store must change the
    // counts (and therefore hash-mismatch a 1:1-assuming oracle).
    import org.apache.spark.sql.functions.pmod
    val docs = Tables.documents(spark, sf)
    // one removed doc IN the subsetted store (even id), one NOT (odd)
    val removal = docs.filter(col("doc_id").isin(10L, 11L)).select(col("doc_id"))
    val subStore = DedupOps.docSketches(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    val idx = SimilarityOps.ivfIndexFor(emb)
    val plan = CorpusOps.takedownPropagation(
        docs, removal,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        subStore, idx.assigned,
        SimilarityOps.ivfPqCodesFor(idx)).collect()
    val skKeys = plan.filter(_.getString(0) == "sketches")
      .map(_.getString(1)).toSet
    assert(skKeys == Set("10"),
      s"only STORE-resident removed docs may plan a sketch purge: $skKeys")
    val ap = CorpusOps.takedownApply(
        docs, removal,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        subStore, idx.assigned,
        SimilarityOps.ivfPqCodesFor(idx)).collect()
      .filter(_.getString(0) == "sketches").head
    assert(ap.getLong(2) == subStore.count(),
      "apply's n_before must count the actual store rows")
    assert(ap.getLong(4) == 1L,
      "apply must remove exactly the store-resident half of the removal")
  }

  test("takedown probes the STORED manifest (plan-audited); a stale manifest fails loudly") {
    val docs = Tables.documents(spark, sf)
    val removal = docs.filter(col("doc_id") === 10L).select(col("doc_id"))
    val idx = SimilarityOps.ivfIndexFor(emb)
    val stored = CorpusOps.sequenceManifestFor(docs)
    val plan = CorpusOps.takedownPropagation(
      docs, removal,
      RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
      RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
      DedupOps.docSketchesFor(Tables.documents(spark, sf)),
      idx.assigned,
      SimilarityOps.ivfPqCodesFor(idx),
      storedManifest = Some(stored))
    // plan shape: the sequence sections read the PERSISTED manifest
    // table, and no packing cumsum window (the corpus re-pack) exists
    // anywhere in the plan
    val p = plan.queryExecution.executedPlan.toString
    assert(p.contains(Artifacts.nameFor("seq_manifest", Seq(2048), Seq(docs))),
      s"expected the stored manifest table in:\n${p.take(1500)}")
    assert(!"windowspecdefinition\\(lang".r.findFirstIn(p).isDefined,
      "the propagation must not re-derive the packing cumsum from raw docs")
    // fresh manifest: every cert row certifies clean (n_remove = 0)
    val fresh = plan.collect()
      .filter(_.getString(0) == "manifest_cert")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(fresh.nonEmpty && fresh.values.forall(_ == 0L), s"fresh cert: $fresh")
    // STALE manifest (built over a perturbed corpus): the certificate
    // must surface nonzero drift instead of silently planning
    val stale = CorpusOps.sequenceManifest(
      docs.filter(col("doc_id") =!= 11L), seqLen = 2048)
    val staleCert = CorpusOps.takedownPropagation(
        docs, removal,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        DedupOps.docSketchesFor(Tables.documents(spark, sf)),
        idx.assigned,
        SimilarityOps.ivfPqCodesFor(idx),
        storedManifest = Some(stale)).collect()
      .filter(_.getString(0) == "manifest_cert")
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(staleCert.exists(_._2 != 0L),
      s"a stale manifest must show nonzero cert drift: $staleCert")
    // the apply's cert row flags the same staleness via clean = false
    val staleApply = CorpusOps.takedownApply(
        docs, removal,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        DedupOps.docSketchesFor(Tables.documents(spark, sf)),
        idx.assigned,
        SimilarityOps.ivfPqCodesFor(idx),
        storedManifest = Some(stale)).collect()
      .filter(_.getString(0) == "manifest_cert")
    assert(staleApply.exists(!_.getBoolean(5)),
      "the apply must flag a stale manifest clean = false")
  }

  test("takedown serving cert: no surface serves a removed doc; pointwise surfaces backfill 1:1") {
    val docs = Tables.documents(spark, sf)
    val removal = docs.filter(pmod(col("doc_id"), lit(17)) === 6)
      .select(col("doc_id"))
    val idx = SimilarityOps.ivfIndexFor(emb)
    val res = CorpusOps.takedownServingCert(removal,
        RetrievalOps.bm25PostingsFor(Tables.documents(spark, sf)),
        RetrievalOps.bm25DocLengthsFor(Tables.documents(spark, sf)),
        emb, idx,
        SimilarityOps.pqCodebookFor(emb),
        SimilarityOps.binarySigsFor(emb)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(res.keySet == Set("bm25", "exact_cosine", "ivf_exact", "pq_adc",
      "binary_hamming"))
    res.foreach { case (s, (pre, post, _, leaked, _, clean)) =>
      // compliance: the purged store can never return a removed id
      assert(leaked == 0L, s"$s serves a removed doc post-purge")
      // availability: the purge must not shorten any listing
      assert(post == pre, s"$s listing shrank: $pre -> $post")
      assert(clean, s"$s clean flag")
    }
    // pointwise-scored surfaces (per-candidate score is independent of
    // the rest of the corpus) admit EXACTLY the next candidates: the
    // backfill equals the blast radius. BM25 re-prices df/avgdl and
    // the binary surface re-cuts its hamming candidate set, so those
    // two are reported, not asserted.
    Seq("exact_cosine", "ivf_exact", "pq_adc").foreach { s =>
      assert(res(s)._5 == res(s)._3, s"$s must backfill 1:1 " +
        s"(removed_pre=${res(s)._3}, backfilled=${res(s)._5})")
    }
    // the fixture actually exercises the purge: removed docs held
    // pre-purge top-k slots somewhere
    assert(res.values.map(_._3).sum > 0,
      "removal must intersect some pre-purge listing")
  }

  test("takedown cert covers the compressed read path: zero leakage, availability, 1:1 backfill") {
    val docs = Tables.documents(spark, sf)
    val idx = SimilarityOps.ivfIndexFor(emb)
    val r = CorpusOps.takedownServingCertIvfPq(
        docs.filter(pmod(col("doc_id"), lit(17)) === 6).select(col("doc_id")),
        emb, idx,
        SimilarityOps.ivfPqCodebookFor(idx),
        SimilarityOps.ivfPqCodesFor(idx)).collect()
    assert(r.length == 1 && r.head.getString(0) == "ivfpq_adc")
    val row = r.head
    assert(row.getLong(4) == 0L && row.getBoolean(6),
      s"compressed path must not serve a removed id: $row")
    assert(row.getLong(2) == row.getLong(1), s"availability: $row")
    // ADC is pointwise and probe routes are centroid-fixed, so the
    // purge admits exactly the evicted slots' worth of successors
    assert(row.getLong(5) == row.getLong(3), s"1:1 backfill: $row")
  }

  test("index A/B shadow: identical codebooks are churn-free; the drift refit moves listings coherently") {
    val e = emb.localCheckpoint(false)
    // self-compare: v2 fits the SAME corpus with the same seed, so
    // both listings must be identical — zero churn, zero rank
    // displacement, full overlap
    val self = SimilarityOps.pqShadowCompare(e, e.filter(lit(false))).collect()
    assert(self.length == 5)
    self.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == 0L &&
        r.getLong(4) == 0L, s"self-compare must be churn-free: $r") }
    // the q260 drift batch (first subspace scaled 3x): per-query
    // report arithmetic holds, and every listing is full-length
    val drift = e.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        expr("concat(transform(slice(embedding, 1, 16), " +
          "x -> CAST(x AS DOUBLE) * 3.0D), " +
          "transform(slice(embedding, 17, 48), x -> CAST(x AS DOUBLE)))")
          .as("embedding"))
    val rep = SimilarityOps.pqShadowCompare(e, drift).collect()
    assert(rep.length == 5)
    rep.foreach { r =>
      val (k, ov, ch, rl) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))
      assert(k == 10L, s"full listing: $r")
      assert(ch == k - ov, s"churn accounting: $r")
      assert(rl <= ov * (k - 1), s"rank displacement bounded: $r")
    }
  }
}
