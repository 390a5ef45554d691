package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.DedupOps
import graft.functions.{MinHashPack, RollingHash, ShingleHashes, SimHashPack, SketchAggs}

/** Seeded randomized property tests for the custom expressions — the
  * corpus-driven specs only exercise ASCII input and well-formed
  * shapes; these drive the hand-rolled byte/bit paths (multibyte UTF-8
  * walking, empty/short inputs, degenerate graphs) against independent
  * reference implementations. Fixed seeds keep every run identical. */
class PropertySpec extends SparkSpec {

  private val unicodeAlphabet: Array[String] =
    ("abcXYZ019 _".map(_.toString) ++ Seq("é", "ß", "中", "文", "🚀", "𝄞", "ñ", "ع")).toArray

  private def randomString(rnd: Random, maxLen: Int): String =
    (0 until rnd.nextInt(maxLen + 1))
      .map(_ => unicodeAlphabet(rnd.nextInt(unicodeAlphabet.length))).mkString

  test("shingle_hashes matches the declarative path on random multibyte strings") {
    val rnd = new Random(7)
    val texts = (0 until 120).map(i => (i.toLong, randomString(rnd, 24))) :+
      (999L, "") :+ (998L, "abcd") // shorter than the shingle size
    import spark.implicits._
    val df = texts.toDF("doc_id", "text")
    ShingleHashes.register(spark)
    val viaExpr = df
      .select(col("doc_id"), expr(s"shingle_hashes(text, ${DedupOps.ShingleSize})").as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val viaSql = df
      .select(col("doc_id"), explode(expr(
        s"CASE WHEN length(text) >= ${DedupOps.ShingleSize} " +
        s"THEN array_distinct(transform(sequence(1, length(text) - ${DedupOps.ShingleSize - 1}), i -> substr(text, i, ${DedupOps.ShingleSize}))) " +
        "ELSE array() END")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    texts.foreach { case (id, _) =>
      assert(viaExpr(id) == viaSql.getOrElse(id, Set.empty[Long]), s"doc $id")
    }
  }

  test("SimHashPack.pack matches an independent vote fold on random hash arrays") {
    val rnd = new Random(11)
    def reference(hs: Array[Long]): Long = {
      val votes = Array.fill(64)(0L)
      hs.foreach(h => (0 until 64).foreach(i => votes(i) += ((h >>> i) & 1L) * 2 - 1))
      votes.zipWithIndex.foldLeft(0L) { case (sig, (v, i)) =>
        if (v > 0) sig | (1L << i) else sig
      }
    }
    (0 until 200).foreach { _ =>
      val hs = Array.fill(rnd.nextInt(40))(rnd.nextLong())
      assert(SimHashPack.pack(new GenericArrayData(hs)) == reference(hs))
    }
  }

  test("MinHashPack.pack matches an independent per-lane minimum on random hash arrays") {
    val rnd = new Random(13)
    def reference(hs: Array[Long], k: Int): Seq[Long] = {
      val seeds = (1 to k).map(i => SketchAggs.mix64(0x9E3779B97F4A7C15L * i))
      seeds.map(s =>
        if (hs.isEmpty) Long.MaxValue
        else hs.map(h => SketchAggs.mix64(h ^ s)).min)
    }
    (0 until 100).foreach { _ =>
      val k = 1 + rnd.nextInt(48)
      val hs = Array.fill(rnd.nextInt(60))(rnd.nextLong())
      val packed = MinHashPack.pack(new GenericArrayData(hs), k).toLongArray.toSeq
      assert(packed == reference(hs, k))
    }
  }

  test("RollingHash.hash matches the byte fold on random multibyte strings") {
    val rnd = new Random(17)
    (0 until 200).foreach { _ =>
      val s = randomString(rnd, 32)
      val expected = s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xffL))
      assert(RollingHash.hash(UTF8String.fromString(s)) == expected, s"string '$s'")
    }
  }

  test("connectedComponents matches union-find on random graphs") {
    import spark.implicits._
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress fully so every node points at the component min
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    Seq(19, 23, 29).foreach { seed =>
      val rnd = new Random(seed)
      val n = 30 + rnd.nextInt(20)
      val edges = Seq.fill(rnd.nextInt(n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = DedupOps.connectedComponents(
          (0 until n).map(_.toLong).toDF("doc_id"),
          edges.toDF("doc_i", "doc_j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(n, edges), s"seed $seed, n=$n, edges=$edges")
      // the auto fast path (driver union-find under the size
      // thresholds) must label identically to the RDD loop — both on
      // its small-graph branch and when forced onto the RDD branch
      val auto = DedupOps.connectedComponentsAuto(
          (0 until n).map(_.toLong).toDF("doc_id"),
          edges.toDF("doc_i", "doc_j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(auto == got, s"auto path diverged: seed $seed")
      val forcedRdd = DedupOps.connectedComponentsAuto(
          (0 until n).map(_.toLong).toDF("doc_id"),
          edges.toDF("doc_i", "doc_j"), smallNodes = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(forcedRdd == got, s"auto RDD branch diverged: seed $seed")
    }
    // stray edges (an endpoint outside the node set) are ignored on
    // both paths — the RDD join semantics the fast path must mirror
    import spark.implicits._
    val strayNodes = Seq(0L, 1L, 2L).toDF("doc_id")
    val strayEdges = Seq((0L, 1L), (2L, 99L)).toDF("doc_i", "doc_j")
    val a = DedupOps.connectedComponentsAuto(strayNodes, strayEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = DedupOps.connectedComponents(strayNodes, strayEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == Map(0L -> 0L, 1L -> 0L, 2L -> 2L) && a == b)
  }

  test("sequence packing + manifest invariants hold on random corpora") {
    import spark.implicits._
    // independent reference: sequential per-stream concat-and-chunk
    def refPack(rows: Seq[(String, Long, Long)], seqLen: Long)
        : Map[(String, Long), (Long, Long, Long)] = {
      rows.groupBy(_._1).flatMap { case (lang, docs) =>
        var cum = 0L
        docs.sortBy(_._2).filter(_._3 > 0).map { case (_, id, n) =>
          val start = cum / seqLen; val off = cum % seqLen
          cum += n
          ((lang, id), (start, (cum - 1) / seqLen, off))
        }
      }
    }
    Seq(31, 37, 41).foreach { seed =>
      val rnd = new Random(seed)
      val seqLen = 16 + rnd.nextInt(48)
      // token counts skewed: many tiny docs, some spanning multiple
      // sequences, some zero-token
      val rows = (0 until 80 + rnd.nextInt(60)).map { i =>
        val lang = Seq("aa", "bb", "cc")(rnd.nextInt(3))
        val n = rnd.nextInt(4) match {
          case 0 => 0L
          case 1 => (1 + rnd.nextInt(5)).toLong
          case _ => (1 + rnd.nextInt(3 * seqLen)).toLong
        }
        (lang, i.toLong, n)
      }
      // drive the REAL operator through synthetic text whose token
      // count is exact: n space-separated single-letter tokens
      val docs = rows.map { case (lang, id, n) =>
        (id, ("x " * n.toInt).trim, lang, "srcP")
      }.toDF("doc_id", "text", "lang", "source")
      val got = graft.engine.CorpusOps.packSequences(docs, seqLen).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      assert(got == refPack(rows, seqLen), s"seed $seed, seqLen $seqLen")
      // manifest pieces per doc must sum to the doc's token count
      val pieces = graft.engine.CorpusOps.sequenceManifest(docs, seqLen).collect()
        .groupBy(r => (r.getString(0), r.getLong(2))).view.mapValues(_.map(_.getLong(4)).sum)
      rows.filter(_._3 > 0).foreach { case (lang, id, n) =>
        assert(pieces((lang, id)) == n, s"seed $seed: doc $id pieces != $n tokens")
      }
    }
  }

  test("sharedSpans matches a brute-force reference on random corpora") {
    import spark.implicits._
    def brute(texts: Seq[(Long, String)], n: Int, minShared: Long)
        : Map[(Long, Long), (Long, Long, Long)] = {
      val grams = texts.map { case (id, t) =>
        val toks = "[a-z0-9_]+".r.findAllIn(t.toLowerCase).toVector
        id -> toks.sliding(n).zipWithIndex.collect {
          case (w, i) if w.length == n => (i + 1, w.mkString(" "))
        }.toVector
      }.toMap
      // postings bound 2..50 over ALL positioned occurrences
      val counts = grams.values.flatten.groupBy(_._2).view.mapValues(_.size).toMap
      val ok = (g: String) => counts(g) >= 2 && counts(g) <= 50
      (for {
        (i, gi) <- grams.toSeq; (j, gj) <- grams.toSeq if i < j
        hits = for {
          (pi, g) <- gi if ok(g); (pj, g2) <- gj if g2 == g
        } yield (pi - pj).toLong
        if hits.nonEmpty
        byDiag = hits.groupBy(identity).view.mapValues(_.size.toLong)
        if hits.size >= minShared
      } yield (i, j) -> (hits.size.toLong, byDiag.size.toLong, byDiag.values.max))
        .toMap
    }
    Seq(61, 67, 71).foreach { seed =>
      val rnd = new Random(seed)
      // small vocab forces heavy gram collisions, repeats, multi-diag
      // overlaps — the shapes the fixture corpus never produces
      val vocab = Vector("aa", "bb", "cc", "dd")
      val texts = (0L until 14L).map { id =>
        id -> (0 until 8 + rnd.nextInt(16)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      val docs = texts.map { case (id, t) => (id, t, "en", "s") }
        .toDF("doc_id", "text", "lang", "source")
      val got = graft.engine.TextOps.sharedSpans(docs, n = 3, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == brute(texts, 3, 1), s"seed $seed diverged from brute force")
    }
  }

  test("corpus mixing honors arbitrary weights and stays growth-stable") {
    import spark.implicits._
    Seq(43, 47, 53).foreach { seed =>
      val rnd = new Random(seed)
      // weights on a 0.25 grid: exact binary fractions like production
      // mixes, spanning drop / down / integer-up / fractional-up
      val weights = (0 until 4).map(i => s"s$i" -> rnd.nextInt(13) * 0.25).toMap
      val docs = (0 until 160).map { i =>
        (i.toLong, s"doc number $i body", "en", s"s${rnd.nextInt(5)}") // s4 = default 1.0
      }.toDF("doc_id", "text", "lang", "source")
      val got = graft.engine.CorpusOps.mixCorpus(docs, weights).collect()
        .groupBy(r => (r.getLong(0), r.getString(2)))
      got.foreach { case ((id, src), copies) =>
        val w = weights.getOrElse(src, 1.0)
        val n = copies.length
        assert(n == math.floor(w).toLong || n == math.ceil(w).toLong,
          s"seed $seed: doc $id of $src got $n copies for weight $w")
        assert(copies.map(_.getLong(4)).sorted.toSeq == (0L until n.toLong),
          s"seed $seed: doc $id epochs not 0..${n - 1}")
      }
      // zero-weight sources vanish; stability under halving the corpus
      weights.filter(_._2 == 0.0).keys.foreach { src =>
        assert(!got.keys.exists(_._2 == src), s"seed $seed: weight-0 source $src survived")
      }
      val half = graft.engine.CorpusOps.mixCorpus(
          docs.filter(col("doc_id") < 80), weights).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      half.foreach { case (id, n) =>
        assert(got((id, docs.collect().find(_.getLong(0) == id).get.getString(3))).length == n,
          s"seed $seed: doc $id copy count changed with corpus size")
      }
    }
  }

  test("token chunks tile and reassemble random corpora at random window sizes") {
    import spark.implicits._
    val rnd = new Random(31)
    (1 to 4).foreach { trial =>
      val stride = 2 + rnd.nextInt(6)
      val chunkLen = stride + rnd.nextInt(5)
      val docs = (1L to 80L).map { i =>
        val words = (0 until rnd.nextInt(40)).map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
        (i, words, "en", "s")
      }.toDF("doc_id", "text", "lang", "source")
      val chunks = graft.engine.CorpusOps
        .chunkTokenWindows(docs, chunkLen = chunkLen, stride = stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      val toks = docs.collect().map(r =>
        r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
      chunks.groupBy(_._1).foreach { case (id, cs) =>
        val orig = toks(id)
        val sorted = cs.sortBy(_._2)
        // starts advance by exactly stride; every chunk is non-empty,
        // full-length except possibly the last, and the last ends at n
        sorted.zipWithIndex.foreach { case ((_, cid, start, nt, txt), i) =>
          assert(cid == i && start == i * stride + 1, s"trial $trial doc $id chunk $i")
          assert(nt > 0 && (i == sorted.length - 1 || nt == chunkLen))
          assert(txt == orig.slice(start.toInt - 1, (start + nt - 1).toInt).mkString(" "))
        }
        assert(sorted.last._3 + sorted.last._4 - 1 == orig.length,
          s"trial $trial doc $id: final chunk must end at the last token")
      }
      // docs with tokens get chunks; token-less docs get none
      assert(chunks.map(_._1).toSet == toks.filter(_._2.nonEmpty).keySet)
    }
  }

  test("mixed-corpus packing invariants hold for random corpora and weights") {
    import spark.implicits._
    val rnd = new Random(23)
    (1 to 4).foreach { trial =>
      // random weights exercising drop, down-sample, up-sample,
      // fractional up-sample; random short texts (some empty — those
      // carry nothing into any stream — and some punctuation-only,
      // which DO carry pieceRe tokens)
      val weights = Map(
        "src0" -> Seq(0.0, 0.5, 1.5, 3.0)(rnd.nextInt(4)),
        "src1" -> Seq(0.0, 0.25, 2.0, 2.75)(rnd.nextInt(4)))
      val docs = (1L to 120L).map { i =>
        val words = (0 until rnd.nextInt(12))
          .map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
        (i, if (rnd.nextInt(10) == 0) "???" else words,
         if (rnd.nextBoolean()) "en" else "fr", s"src${rnd.nextInt(2)}")
      }.toDF("doc_id", "text", "lang", "source")
      val seqLen = 1 + rnd.nextInt(16)
      val packed = graft.engine.CorpusOps.packMixedSequences(docs, weights, seqLen)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
                             r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      // invariant 1: per stream, occupants tile contiguously in
      // (doc_id, epoch) order from offset 0 with no gaps/overlaps
      packed.groupBy(_._1).foreach { case (lang, rows) =>
        rows.sortBy(t => (t._2, t._3)).foldLeft(0L) {
          case (cum, (_, id, ep, n, s0, e1, off, nseq)) =>
            assert(n > 0, s"trial $trial: zero-token occupant leaked")
            assert(s0 == cum / seqLen && off == cum % seqLen,
              s"trial $trial $lang: doc $id epoch $ep misaligned")
            assert(e1 == (cum + n - 1) / seqLen && nseq == e1 - s0 + 1)
            cum + n
        }
      }
      // invariant 2: occupant multiset = mix output × token-bearing
      // docs (join semantics: token-less docs carry nothing)
      val expect = graft.engine.CorpusOps.mixCorpus(docs, weights)
        .join(docs.filter(col("text").rlike("[^ ]")).select(col("doc_id")), "doc_id")
        .count()
      assert(packed.length.toLong == expect, s"trial $trial: occupant count off")
    }
  }

  test("sentence dedup invariants hold on random corpora against a reference fold") {
    import spark.implicits._
    val rnd = new Random(31)
    // small sentence pool forces heavy cross-doc and within-doc repeats
    val pool = Vector("alpha one", "beta two", "gamma three", "delta", "epsilon five x")
    val corpus = (0 until 60).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i.toLong, (0 until n).map(_ => pool(rnd.nextInt(pool.length))).mkString(". "),
        "en", "s")
    }
    val df = corpus.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
    val got = graft.engine.TextOps.sentenceDedup(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // reference: a driver-side first-occurrence fold in (doc_id, pos) order
    val seen = scala.collection.mutable.Set[String]()
    corpus.sortBy(_._1).foreach { case (id, text, _, _) =>
      val sents = text.split("\\. ", -1)
      val kept = sents.filter(s => seen.add(s))
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(". ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      val (nS, nK, nD, gotFp) = got(id)
      assert(nS == sents.length && nK == kept.length && nD == sents.length - kept.length,
        s"doc $id tallies diverge")
      assert(gotFp == fp, s"doc $id reassembly fingerprint diverges")
    }
    // global: every distinct sentence survives exactly once
    assert(got.values.map(_._2).sum == corpus.flatMap(_._2.split("\\. ", -1)).distinct.length)
  }

  test("connectedComponents handles an empty node set") {
    import spark.implicits._
    val empty = DedupOps.connectedComponents(
      Seq.empty[Long].toDF("doc_id"), Seq.empty[(Long, Long)].toDF("doc_i", "doc_j"))
    assert(empty.count() == 0)
  }

  test("connectedComponents reliable-checkpoint mode matches local mode and writes checkpoints") {
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_").toString
    // a 101-node chain: deep enough that the loop runs several rounds,
    // so the every=1 interval actually writes per-round checkpoints
    val n = 101
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_i", "doc_j")
    val local = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = DedupOps.connectedComponents(nodes, edges,
        checkpoint = DedupOps.CcCheckpoint.Reliable(ckptDir, every = 1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == local, "reliable-checkpoint labels must equal local-mode labels")
    assert(rel.values.toSet == Set(0L), "a chain is one component rooted at its min id")
    // the reliable path must actually have written checkpoint data
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val ckptFiles = walk(new java.io.File(ckptDir)).filter(_.getName.startsWith("part-"))
    assert(ckptFiles.nonEmpty,
      s"expected RDD checkpoint part files under $ckptDir")
  }

  test("water-filling matches a sequential reference on random demands and budgets") {
    import spark.implicits._
    import graft.engine.CorpusOps
    // independent reference: raise the level one token at a time
    def reference(demands: Map[String, Long], budget: Long): Map[String, Long] = {
      if (demands.values.sum <= budget) return demands
      val alloc = scala.collection.mutable.Map(demands.view.mapValues(_ => 0L).toSeq: _*)
      var left = budget
      // deal tokens round-robin in (demand, source) order — the exact
      // fairness rule: unfilled sources never differ by more than one
      val order = demands.toSeq.sortBy { case (s, d) => (d, s) }.map(_._1)
      while (left > 0) {
        val open = order.filter(s => alloc(s) < demands(s))
        val take = open.take(math.min(left, open.size.toLong).toInt)
        take.foreach(s => alloc(s) += 1)
        left -= take.size
      }
      alloc.toMap
    }
    val rnd = new Random(23)
    (0 until 12).foreach { trial =>
      val nSrc = 2 + rnd.nextInt(6)
      val demands = (0 until nSrc)
        .map(i => f"s$i%02d" -> (1L + rnd.nextInt(12))).toMap
      val budget = 1L + rnd.nextInt(1 + (demands.values.sum * 3 / 2).toInt)
      val docs = demands.toSeq.flatMap { case (src, d) =>
        // one doc per source carrying exactly d single-char tokens
        Seq((src.hashCode.toLong, ("x " * d.toInt).trim, "en", src))
      }.toDF("doc_id", "text", "lang", "source")
      val got = CorpusOps.tokenWaterFill(docs, totalBudget = budget).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      val want = reference(demands, budget)
      assert(got == want, s"trial $trial demands=$demands budget=$budget")
    }
  }

  test("epoch schedule invariants hold on random corpora and budgets") {
    import spark.implicits._
    import graft.engine.CorpusOps
    // reference model in plain Scala: target = ⌊B·w/W⌋ by the same
    // overflow-safe decomposition, then the cap/tail split — the
    // engine must agree exactly, and admission must never exceed it
    val rnd = new Random(67)
    (0 until 8).foreach { trial =>
      val nSrc = 2 + rnd.nextInt(5)
      val mult = 1L + rnd.nextInt(6)
      val docsSeq = (0 until nSrc).flatMap { i =>
        (0 until 1 + rnd.nextInt(4)).map(j =>
          (i * 100L + j, ("t " * (1 + rnd.nextInt(30))).trim, "en", f"s$i%02d"))
      }
      val docs = docsSeq.toDF("doc_id", "text", "lang", "source")
      val toks = docsSeq.groupBy(_._4).view
        .mapValues(_.map(d => (d._2.length + 1L) / 2).sum).toMap
      val w = toks.view.mapValues(t => math.sqrt(t.toDouble).toLong).toMap
      val (bigT, bigW) = (toks.values.sum, w.values.sum)
      val budget = mult * bigT
      val sched = CorpusOps.epochSchedule(docs, budgetMult = mult).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
        .toMap
      sched.foreach { case (src, (t, target, full, tail, realized)) =>
        assert(t == toks(src), s"trial $trial $src token mass")
        val want = (budget / bigW) * w(src) + ((budget % bigW) * w(src)) / bigW
        assert(target == want, s"trial $trial $src target: $target vs $want")
        assert(full == math.min(4L, target / t), s"trial $trial $src full")
        assert(realized == math.min(target, 4L * t) && tail == realized - full * t
          && tail >= 0 && tail < t, s"trial $trial $src tail/realized")
      }
      // admission never exceeds the plan, per source
      val mass = CorpusOps.epochAdmission(docs, budgetMult = mult)
        .filter(col("admitted"))
        .groupBy(col("source")).agg(sum(col("n_toks")).as("m")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      mass.foreach { case (src, m) =>
        assert(m <= sched(src)._5, s"trial $trial $src admitted mass $m") }
    }
  }

  test("loader-family invariants hold on random corpora, shard counts, and resume steps") {
    import spark.implicits._
    import graft.engine.CorpusOps
    // conservation laws the loader family must obey for ANY
    // (budget, shards, seqLen, step): pack mass ≡ admitted mass,
    // efficiency totals ≡ pack totals, resume splits mass exactly at
    // the step boundary, commitments are recomputation-stable
    val rnd = new Random(83)
    (0 until 6).foreach { trial =>
      val docsSeq = (0 until 2 + rnd.nextInt(3)).flatMap { i =>
        (0 until 5 + rnd.nextInt(15)).map(j =>
          (i * 1000L + j, ("t " * rnd.nextInt(25)).trim, "en", f"s$i%02d"))
      }
      val docs = docsSeq.toDF("doc_id", "text", "lang", "source")
      val mult = 1L + rnd.nextInt(5)
      val nSh = 1 + rnd.nextInt(4)
      val L = 4 + rnd.nextInt(29)
      val S = rnd.nextInt(6).toLong
      val admitted = CorpusOps.epochAdmission(docs, budgetMult = mult)
        .filter(col("admitted")).agg(sum(col("n_toks"))).head()
      val admittedMass = if (admitted.isNullAt(0)) 0L else admitted.getLong(0)
      val eff = CorpusOps.packEfficiency(docs, budgetMult = mult,
        nShards = nSh, seqLen = L).collect()
      // pack conservation: shard masses sum to the admitted mass and
      // every shard's tail fill fits its last sequence
      assert(eff.map(_.getLong(3)).sum == admittedMass,
        s"trial $trial: pack mass vs admitted mass")
      eff.foreach { r =>
        val (nSeqs, toks, tail) = (r.getLong(2), r.getLong(3), r.getLong(6))
        assert(tail >= 1 && tail <= L && toks == (nSeqs - 1) * L + tail,
          s"trial $trial shard ${r.getLong(0)}: tail law")
      }
      // resume conservation at a random step: dropped + consumed +
      // remaining ≡ shard mass, and remaining ≡ mass - min(S·L, mass)
      val man = CorpusOps.loaderResume(docs, budgetMult = mult,
        nShards = nSh, seqLen = L, resumeStep = S).collect()
      val remBy = man.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(9)).sum).toMap
      eff.foreach { r =>
        val (shard, mass) = (r.getLong(0), r.getLong(3))
        assert(remBy.getOrElse(shard, 0L) == mass - math.min(S * L, mass),
          s"trial $trial shard $shard: resume conservation")
      }
      // the handshake is recomputation-stable
      val c1 = CorpusOps.orderCommitment(docs, budgetMult = mult, nShards = nSh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      val c2 = CorpusOps.orderCommitment(docs, budgetMult = mult, nShards = nSh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      assert(c1.sameElements(c2), s"trial $trial: commitment stability")
    }
  }

  test("additive-state merges equal full rebuilds on random corpora") {
    import spark.implicits._
    import graft.engine.{CorpusOps, TextOps}
    // the q243/q245 contract, driven past the hand fixtures: random
    // split points, cross-boundary duplicate texts (the pool), random
    // (lang, source) cells — fold/merge must equal the one-shot
    // rebuild bit-for-bit every time, because every table is additive
    val rnd = new Random(41)
    val pool = Vector("alpha beta gamma", "delta epsilon zeta",
      "eta theta iota kappa", "lambda mu nu", "xi omicron pi rho sigma")
    def text(): String =
      if (rnd.nextBoolean()) pool(rnd.nextInt(pool.size))
      else (0 until 3 + rnd.nextInt(5)).map(_ => s"w${rnd.nextInt(40)}").mkString(" ")
    (0 until 6).foreach { trial =>
      val n = 6 + rnd.nextInt(10)
      val cut = 1 + rnd.nextInt(n - 1)
      val rows = (0 until n).map(i => (i.toLong, text(),
        if (rnd.nextBoolean()) "en" else "de", s"s${rnd.nextInt(2)}"))
      val stored = rows.take(cut).toDF("doc_id", "text", "lang", "source")
      val batch = rows.drop(cut).toDF("doc_id", "text", "lang", "source")
      val all = rows.toDF("doc_id", "text", "lang", "source")
      val inc = CorpusOps.corpusCardIncremental(
          CorpusOps.corpusCardState(stored), DedupOps.fingerprintStore(stored),
          batch)
        .drop("n_batch_docs").collect().map(_.toString).toSeq
      val reb = CorpusOps.corpusCard(all).collect().map(_.toString).toSeq
      assert(inc == reb, s"trial $trial: card fold diverged from rebuild")
      val m = TextOps.lmModelMerge(TextOps.lmModel(stored), batch)
      val r = TextOps.lmModel(all)
      def bi(x: TextOps.LmModel) = x.bigrams.collect()
        .map(q => (q.getString(0), q.getString(1), q.getLong(2))).toSet
      def cx(x: TextOps.LmModel) = x.contexts.collect()
        .map(q => (q.getString(0), q.getLong(1))).toSet
      def vb(x: TextOps.LmModel) = x.vocab.collect().map(_.getString(0)).toSet
      assert(bi(m) == bi(r) && cx(m) == cx(r) && vb(m) == vb(r),
        s"trial $trial: LM merge diverged from retrain")
    }
  }

  test("session packing matches an independent fold on random streams; incremental agrees at every cutoff") {
    import spark.implicits._
    import graft.engine.TemporalOps
    val rnd = new Random(23)
    val base = 1700000000000L
    // 8 users, bursty timestamps (minute-scale steps with occasional
    // multi-hour jumps) so 5-minute sessions split unpredictably; ties
    // on (user, ts) exercised via duplicated instants
    val events = (0 until 300).map { i =>
      val u = rnd.nextInt(8).toLong
      val ts = base + rnd.nextInt(50) * 3600000L + rnd.nextInt(12) * 60000L
      (u, i.toLong, new java.sql.Timestamp(ts))
    }
    val seqLen = 3
    def ref(evs: Seq[(Long, Long, java.sql.Timestamp)])
        : Set[(Long, Long, Long, Long, Long, Long)] =
      evs.groupBy(_._1).flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e._3.getTime, e._2))
        var (sid, n, last) = (0L, 0L, Long.MinValue)
        val sess = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        sorted.foreach { e =>
          val t = e._3.getTime
          if (last == Long.MinValue || t - last >= 5 * 60 * 1000L) {
            if (n > 0) sess += ((sid, n))
            sid += 1; n = 1
          } else n += 1
          last = t
        }
        if (n > 0) sess += ((sid, n))
        var cum = 0L
        sess.map { case (s, ne) =>
          val r = (u, s, ne, cum / seqLen, (cum + ne - 1) / seqLen,
            cum % seqLen)
          cum += ne
          r
        }
      }.toSet
    def df(rows: Seq[(Long, Long, java.sql.Timestamp)]) =
      rows.toDF("user_id", "event_id", "ts")
    def shape(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5),
        r.getLong(6), r.getLong(7))).toSet
    val full = shape(TemporalOps.sessionPackManifest(df(events),
      seqLen = seqLen).collect())
    assert(full == ref(events), "manifest diverged from the reference fold")
    // the incremental fold reproduces the rebuild at EVERY cutoff,
    // covering extend/final/untouched/new-user mixes at random
    val times = events.map(_._3.getTime).distinct.sorted
    Seq(times(times.length / 4), times(times.length / 2),
        times(3 * times.length / 4)).foreach { cut =>
      val (stored, batch) = events.partition(_._3.getTime < cut)
      val inc = shape(TemporalOps.sessionPackIncremental(
        TemporalOps.sessionPackManifest(df(stored), seqLen = seqLen),
        df(batch), seqLen = seqLen).collect())
      assert(inc == full, s"cutoff $cut: incremental diverged from rebuild")
    }
  }

  test("user-takedown and retention-sweep ledgers equal rebuilds on random event streams") {
    import spark.implicits._
    import graft.engine.{EventOps, TemporalOps}
    val rnd = new Random(41)
    val base = 1700000000000L
    val types = Array("view", "click", "purchase", "error", "signup")
    val events = (0 until 400).map { i =>
      val u = rnd.nextInt(10).toLong
      val ts = base + rnd.nextInt(40) * 3600000L + rnd.nextInt(30) * 60000L
      (u, i.toLong, new java.sql.Timestamp(ts), types(rnd.nextInt(types.length)))
    }
    // read straight from its local rows: a stable identity, so the
    // sweeps below build the six stores of `ev` once and share them
    val ev = events.toDF("user_id", "event_id", "ts", "event_type")
    def stores(e: org.apache.spark.sql.DataFrame) = (
      TemporalOps.sessionPackManifest(e), EventOps.sessionize(e),
      EventOps.funnel(e), EventOps.retentionCohorts(e),
      EventOps.eventTransitions(e), EventOps.lastTouchAttribution(e))
    def ledgerMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // the DECREMENT/RE-DERIVE path must equal a full REBUILD over the
    // kept events, section for section, on arbitrary removals
    def check(tag: String, led: Map[(String, String), Long],
              kept: org.apache.spark.sql.DataFrame): Unit = {
      val (m2, s2, f2, r2, t2, a2) = stores(kept)
      assert(led(("users", "all")) ==
        kept.select(col("user_id")).distinct().count(), tag)
      assert(led(("manifest", "rows")) == m2.count(), tag)
      assert(led(("sessions", "rows")) == s2.count(), tag)
      assert(led(("attribution", "rows")) == a2.count(), tag)
      f2.collect().foreach(r =>
        assert(led(("funnel", r.getString(1))) == r.getLong(2),
          s"$tag funnel ${r.getString(1)}"))
      val cells = r2.collect()
        .map(r => s"${r.getDate(0)}:${r.getLong(1)}" -> r.getLong(2)).toMap
      assert(led.collect { case (("retention", k), v) if v != 0 => k -> v }
        .toMap == cells, s"$tag retention cells")
      val edges = t2.collect()
        .map(r => s"${r.getString(0)}:${r.getString(1)}" -> r.getLong(2)).toMap
      assert(led.collect { case (("transitions", k), v) if v != 0 => k -> v }
        .toMap == edges, s"$tag transition edges")
    }
    // random user-removal sets (q284)
    (1 to 3).foreach { s =>
      val rs = new Random(100 + s)
      val rmUsers = (0 until 10).filter(_ => rs.nextBoolean()).map(_.toLong)
      if (rmUsers.nonEmpty && rmUsers.size < 10) {
        val rm = rmUsers.toDF("user_id")
        val led = ledgerMap(EventOps.userTakedown(ev, rm))
        check(s"rm=$rmUsers", led,
          ev.join(rm, Seq("user_id"), "left_anti").localCheckpoint(false))
      }
    }
    // random age cutoffs (q286) — ISO-Z strings so the parse is
    // timezone-independent
    val times = events.map(_._3.getTime).distinct.sorted
    Seq(times(times.length / 4), times(times.length / 2),
        times(3 * times.length / 4)).foreach { cut =>
      val cs = java.time.Instant.ofEpochMilli(cut).toString
      val led = ledgerMap(EventOps.retentionSweep(ev, cs))
      check(s"cut=$cs", led,
        ev.filter(col("ts") >= lit(cs).cast("timestamp"))
          .localCheckpoint(false))
    }
    // random quarantine round-trips (q290): EVERY store must restore
    // row-identical (clean = the multiset-commitment identity) for
    // arbitrary removal sets — restore ≡ the purge run backwards
    (1 to 3).foreach { s =>
      val rs = new Random(200 + s)
      val rmUsers = (0 until 10).filter(_ => rs.nextBoolean()).map(_.toLong)
      if (rmUsers.nonEmpty && rmUsers.size < 10) {
        val rows = EventOps.userQuarantineRoundTrip(ev, rmUsers.toDF("user_id")).collect()
        rows.foreach { r =>
          assert(r.getBoolean(5),
            s"rm=$rmUsers: ${r.getString(0)} must restore row-identical")
          assert(r.getLong(4) == r.getLong(2),
            s"rm=$rmUsers: ${r.getString(0)} restored mass must equal before")
        }
        assert(rows.exists(r => r.getLong(3) != r.getLong(2)),
          s"rm=$rmUsers: the purge must have removed something")
      }
    }
  }
}
