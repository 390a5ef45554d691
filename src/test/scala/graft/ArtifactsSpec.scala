package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine._

/** The artifact store's contract: a stored artifact is keyed by every
  * parameter and its inputs' identity, warm reads build nothing, and
  * no other persistence mechanism creeps back into the engine. */
class ArtifactsSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Column names and types; the parquet roundtrip relaxes
    * nullability, which `simpleString` leaves out. */
  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  private def bucketCount(df: DataFrame): Option[Int] =
    catalogTable(df).flatMap(_.bucketSpec).map(_.numBuckets)

  private def partitionColumns(df: DataFrame): Seq[String] =
    catalogTable(df).toSeq.flatMap(_.partitionColumnNames)

  /** Non-comment lines of the engine sources: (file, line number, text). */
  private lazy val sourceLines: Seq[(String, Int, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(files.exists(_.getName == "Artifacts.scala"), "scan must see the engine sources")
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .toSeq.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/**"))
    } yield (f.getName, i + 1, t)
  }

  /** Every family name the engine passes to the store: a literal, or
    * a prefix ending in `_` for names like `cur_stage_$part`. */
  private lazy val scannedFamilies: Set[String] = {
    val call = """Artifacts\.(?:table|ensure|nameFor)\(s?"([a-z0-9_]+)(\$\w+)?"""".r
    sourceLines.flatMap { case (_, _, t) => call.findAllMatchIn(t).map(_.group(1)) }.toSet
  }

  /** Families the store names but never writes through `table`/
    * `ensure`, with the reason. */
  private val writtenElsewhere = Map(
    "pq_serving_ptr" -> "mutable serving pointer, rewritten on promotion",
    "pq_promotion" -> "Artifacts.memo key of an in-session decision, no table",
    "ivf_rebalance" -> "Artifacts.memo key of in-session fits, no table")

  /** One stored artifact under one parameter setting: its read-back
    * frame against the build body the store runs for it. */
  private final case class Row(group: String, setting: String, family: String,
                               stored: () => DataFrame, build: () => DataFrame,
                               buckets: Option[Int] = None,
                               partitionedBy: Seq[String] = Nil)

  test("changing any parameter or the input rebuilds the artifact and returns its own rows") {
    val docs = Tables.documents(spark, sf)
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val emb = Tables.embeddings(spark, sf)
    val wide = emb.select(col("vec_id"),
      expr("concat(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "transform(embedding, x -> 0.5D - CAST(x AS DOUBLE)))").as("embedding"))
    val batchEmb = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding"))
    val ev = Tables.events(spark, sf)
    val part = Tables.part(spark, sf)
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    def table(name: String) = spark.read.table(name)
    lazy val idx = SimilarityOps.ivfIndexFor(emb)
    // the q247 ingest split over the stored sketch table
    val sk = DedupOps.docSketchesFor(docs)
      .filter(col("sig").isNotNull).select(col("doc_id"), col("sig"))
    val fps = DedupOps.fingerprintStore(docs.filter(col("doc_id") < 450))
    val storedSigs = sk.filter(col("doc_id") < 450)
    val batch = docs.filter(col("doc_id") >= 450)
    val batchSigs = sk.filter(col("doc_id") >= 450)
    val noEdges = docs.filter(lit(false)).select(col("doc_id").as("doc_i"), col("doc_id").as("doc_j"))

    def one(family: String, stored: => DataFrame, build: => DataFrame) =
      Seq(Row(family, "", family, () => stored, () => build))
    // a store call that writes several tables, one row per part
    def parts(group: String, setting: String, prefix: String, names: Seq[String],
              stored: => Seq[(String, DataFrame)], build: => Seq[(String, DataFrame)]) = {
      lazy val s = stored.toMap
      lazy val b = build.toMap
      names.map(p => Row(group, setting, prefix + p, () => s(p), () => b(p)))
    }
    def curation(edges: Option[DataFrame]) = {
      def named(ts: (DataFrame, Seq[(String, DataFrame)])) = ("toks" -> ts._1) +: ts._2
      parts("cur_stage", edges.fold("default edges")(_ => "no edges"), "cur_stage_",
        Seq("toks", "input", "exact_dedup", "near_dedup", "quality_gate", "decontam"),
        named(CorpusOps.curationStagesFor(docs, edges)),
        named(CorpusOps.curationStageIds(docs, edges)))
    }
    val ingest = parts("ingest_stage", "", "ingest_stage_",
      Seq("toks", "input", "exact_vs_stored", "quality_gate", "near_dup_vs_stored"), {
        val (toks, stages) = CorpusOps.ingestStagesFor(fps, storedSigs, batch, batchSigs)
        ("toks" -> toks) +: stages
      }, {
        val (exact, gate, nd) = CorpusOps.ingestStages(fps, storedSigs, batch, batchSigs)
        Seq("toks" -> CorpusOps.ingestToks(batch), "input" -> batch.select(col("doc_id")),
          "exact_vs_stored" -> exact, "quality_gate" -> gate, "near_dup_vs_stored" -> nd)
      })
    val lm = parts("lm", "", "lm_", Seq("bi", "ctx", "vocab"), {
        val m = TextOps.lmModelFor(docs)
        Seq("bi" -> m.bigrams, "ctx" -> m.contexts, "vocab" -> m.vocab)
      }, {
        val m = TextOps.lmModel(docs)
        Seq("bi" -> m.bigrams, "ctx" -> m.contexts, "vocab" -> m.vocab)
      })
    def bpe(rounds: Int) = parts("bpe", s"rounds=$rounds", "bpe_", Seq("merges", "words"),
      Seq("merges" -> TextOps.bpeMergesFor(docs, rounds), "words" -> TextOps.bpeWordsFor(docs, rounds)),
      { val (m, w) = TextOps.bpeLearnState(docs, rounds); Seq("merges" -> m, "words" -> w) })
    def bucketed(n: Int) =
      Seq(Row("bucketed", s"buckets=$n", "orders_bkt",
            () => PartitionedTables.ordersBucketedFor(orders, n),
            () => orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")), Some(n)),
          Row("bucketed", s"buckets=$n", "customer_bkt",
            () => PartitionedTables.customerBucketedFor(customer, n),
            () => customer.select(col("c_custkey"), col("c_mktsegment")), Some(n)))
    val partitioned = Seq(
      Row("orders_by_month", "", "orders_by_month", () => PartitionedTables.ordersByMonthFor(orders),
        () => orders.withColumn("o_month", month(col("o_orderdate"))), partitionedBy = Seq("o_month")),
      Row("month_dim", "", "month_dim", () => PartitionedTables.monthDimFor(orders), () => {
        import spark.implicits._
        (1 to 12).map(m => (m, (m - 1) / 3 + 1)).toDF("m_month", "m_quarter")
      }))
    def ivf(n: Int) = {
      lazy val stored = SimilarityOps.ivfIndexFor(emb, n)
      lazy val built = SimilarityOps.buildIvfIndex(emb, n)
      Seq(Row("ivf", s"nLists=$n", "ivf_assign", () => stored.assigned,
            () => built.assigned.select(col("vec_id"), col("vec"), col("norm"), col("list_id")),
            Some(n)),
          Row("ivf", s"nLists=$n", "ivf_centers", () => stored.centers, () => built.centers))
    }
    def pq(k: Int) = Seq(
      Row("pq", s"k=$k", "pq_centers", () => SimilarityOps.pqCodebookFor(emb, 4, k).centers,
        () => SimilarityOps.buildPqCodebook(emb, 4, k).centers),
      Row("pq", s"k=$k", "pq_baseline", () => SimilarityOps.pqBaselineFor(emb, 4, k),
        () => SimilarityOps.pqErrStats(SimilarityOps.pqCodebookFor(emb, 4, k), emb)),
      Row("pq", s"k=$k", "pq_codes", () => table(SimilarityOps.ensurePqCodesTable(emb, 4, k)),
        () => SimilarityOps.pqEncode(SimilarityOps.pqCodebookFor(emb, 4, k), emb)
          .select(col("vec_id") +: (0 until 4).map(s => col(s"code_$s")): _*)),
      Row("ivfpq_codes", s"k=$k", "ivfpq_codes",
        () => SimilarityOps.ivfPqCodesFor(idx, 4, k),
        () => SimilarityOps.pqEncodeWithList(SimilarityOps.ivfPqCodebookFor(idx, 4, k),
          SimilarityOps.residualFrame(idx)), Some(16)))
    def sweeps(nProbes: Seq[Int]) = {
      val setting = s"nProbes=${nProbes.mkString(",")}"
      Seq(Row("ivf_sweep", setting, "ivf_sweep",
            () => SimilarityOps.ivfProbeSweepFor(idx, nProbes),
            () => SimilarityOps.ivfProbeSweep(idx, nProbes)),
          Row("ivfpq_sweep", setting, "ivfpq_sweep",
            () => SimilarityOps.ivfPqProbeSweepFor(idx, SimilarityOps.ivfPqCodebookFor(idx),
              emb, SimilarityOps.ivfPqCodesFor(idx), nProbes),
            () => SimilarityOps.ivfPqProbeSweep(idx, SimilarityOps.ivfPqCodebookFor(idx),
              emb, SimilarityOps.ivfPqCodesFor(idx), nProbes)))
    }
    def param(group: String, setting: String, stored: => DataFrame, build: => DataFrame) =
      Row(group, setting, group, () => stored, () => build)

    val cases: Seq[Row] = Seq(
      param("epoch_order", "budgetMult=4", CorpusOps.epochOrderRowsFor(docs, 4L),
        CorpusOps.epochOrderRows(docs, 4L, 4L, 8)),
      param("epoch_order", "budgetMult=2", CorpusOps.epochOrderRowsFor(docs, 2L),
        CorpusOps.epochOrderRows(docs, 2L, 4L, 8)),
      param("epoch_pack", "seqLen=2048", CorpusOps.epochPackRowsFor(docs, seqLen = 2048),
        CorpusOps.epochPackRows(CorpusOps.epochOrderRows(docs, 4L, 4L, 8), 2048)),
      param("epoch_pack", "seqLen=512", CorpusOps.epochPackRowsFor(docs, seqLen = 512),
        CorpusOps.epochPackRows(CorpusOps.epochOrderRows(docs, 4L, 4L, 8), 512)),
      param("anneal_order", "budgetMult=4", CorpusOps.annealOrderRowsFor(docs, 4L),
        CorpusOps.annealOrderRows(docs, 4L, 4L, 8)),
      param("anneal_order", "budgetMult=2", CorpusOps.annealOrderRowsFor(docs, 2L),
        CorpusOps.annealOrderRows(docs, 2L, 4L, 8)),
      param("seq_manifest", "seqLen=2048", CorpusOps.sequenceManifestFor(docs, 2048),
        CorpusOps.sequenceManifest(docs, 2048)),
      param("seq_manifest", "seqLen=64", CorpusOps.sequenceManifestFor(docs, 64),
        CorpusOps.sequenceManifest(docs, 64)),
      param("pos_grams", "n=10", TextOps.positionedGramsFor(docs, 10),
        TextOps.positionedGrams(docs, 10)),
      param("pos_grams", "n=8", TextOps.positionedGramsFor(docs, 8),
        TextOps.positionedGrams(docs, 8)),
      param("doc_fps", "even docs", DedupOps.docFingerprintsFor(even),
        even.select(col("doc_id"), md5(col("text")).as("fp_md5"))),
      param("doc_fps", "odd docs", DedupOps.docFingerprintsFor(odd),
        odd.select(col("doc_id"), md5(col("text")).as("fp_md5"))),
      param("pq_shadow", "topK=10", SimilarityOps.pqShadowFor(emb, batchEmb),
        SimilarityOps.pqShadowCompare(emb, batchEmb)),
      param("pq_shadow", "topK=5", SimilarityOps.pqShadowFor(emb, batchEmb, topK = 5),
        SimilarityOps.pqShadowCompare(emb, batchEmb, topK = 5)),
      param("ann_ladder", "int8+trunc",
        SimilarityOps.annLadder(emb, rungs = Seq("int8_sym127", "trunc")),
        SimilarityOps.annLadderBuild(emb, 5, 10, Set("int8_sym127", "trunc"))),
      param("ann_ladder", "trunc", SimilarityOps.annLadder(emb, rungs = Seq("trunc")),
        SimilarityOps.annLadderBuild(emb, 5, 10, Set("trunc")))) ++
      bucketed(8) ++ bucketed(4) ++ partitioned ++ ivf(16) ++ ivf(8) ++ pq(16) ++ pq(8) ++
      sweeps(Seq(1, 2, 4, 8, 16)) ++ sweeps(Seq(1, 2)) ++
      curation(None) ++ curation(Some(noEdges)) ++ bpe(5) ++ bpe(3) ++ ingest ++ lm ++
      one("card_state", CorpusOps.corpusCardStateFor(docs), CorpusOps.corpusCardState(docs)) ++
      one("dedup_clusters", DedupOps.clustersFor(docs),
        DedupOps.connectedComponentsAuto(docs.select(col("doc_id")),
          DedupOps.jaccardPairs(docs).select(col("doc_i"), col("doc_j")))) ++
      one("dedup_split", DedupOps.clusterSplitFor(docs),
        DedupOps.clusterAwareSplit(docs, DedupOps.jaccardPairs(docs).select(col("doc_i"), col("doc_j")))) ++
      one("entity_groups", DedupOps.entityGroupsFor(part), DedupOps.entityGroups(part)) ++
      one("doc_sketches", DedupOps.docSketchesFor(docs), DedupOps.docSketches(docs)) ++
      one("doc_mh_pairs", DedupOps.minhashPairsFor(docs), DedupOps.minhashPairsFromSigs(sk)) ++
      one("doc_sim_pairs", DedupOps.simhashPairsFor(docs),
        DedupOps.simhashPairsFromSigs(DedupOps.docSketchesFor(docs)
          .filter(col("simhash").isNotNull).select(col("doc_id"), col("simhash")))) ++
      one("doc_cal_truth", DedupOps.calibrationTruthFor(docs),
        DedupOps.jaccardPairs(docs, maxDocId = 500, threshold = 0.5)
          .select(col("doc_i"), col("doc_j"))) ++
      one("doc_dfcap_pairs", DedupOps.dfCappedJaccardPairsFor(docs),
        DedupOps.jaccardPairsDfCapped(docs)) ++
      one("ev_manifest", TemporalOps.sessionPackManifestFor(ev), TemporalOps.sessionPackManifest(ev)) ++
      one("ev_sessions", EventOps.sessionsFor(ev), EventOps.sessionize(ev)) ++
      one("ev_funnel", EventOps.funnelFor(ev), EventOps.funnel(ev)) ++
      one("ev_retention", EventOps.retentionCohortsFor(ev), EventOps.retentionCohorts(ev)) ++
      one("ev_transitions", EventOps.eventTransitionsFor(ev), EventOps.eventTransitions(ev)) ++
      one("ev_attribution", EventOps.lastTouchAttributionFor(ev), EventOps.lastTouchAttribution(ev)) ++
      one("bm25_postings", RetrievalOps.bm25PostingsFor(docs), RetrievalOps.bm25Postings(docs)) ++
      one("bm25_doclen", RetrievalOps.bm25DocLengthsFor(docs), RetrievalOps.bm25DocLengths(docs)) ++
      one("bin_sigs", SimilarityOps.binarySigsFor(emb),
        SimilarityOps.binarySignatures(emb).select(col("vec_id"), col("sig"))) ++
      one("bin_sigsw", SimilarityOps.binarySigsWideFor(wide),
        SimilarityOps.binarySignaturesWide(wide).select(col("vec_id"), col("sig")))

    // every family the engine stores has a row, and no row is stale
    val covered = cases.map(_.family).toSet
    val prefixes = scannedFamilies.filter(_.endsWith("_"))
    def scanned(f: String) = scannedFamilies(f) || prefixes.exists(f.startsWith)
    assert(covered.filterNot(scanned).isEmpty, "rows for families the engine no longer stores")
    val missing = (scannedFamilies -- writtenElsewhere.keySet).filterNot(s =>
      covered(s) || (s.endsWith("_") && covered.exists(_.startsWith(s))))
    assert(missing.isEmpty, s"stored families without a stored ≡ build row: $missing")
    assert(writtenElsewhere.keySet.subsetOf(scannedFamilies), "stale writtenElsewhere entries")
    info(s"${cases.size} rows over ${covered.size} stored families; " +
      s"${writtenElsewhere.size} named families written elsewhere")

    val results = cases.map { r =>
      val s = r.stored()
      val b = r.build()
      val what = s"${r.family} ${r.setting}"
      assert(columns(s) == columns(b), s"$what: stored column names/types differ from the build body")
      val got = rows(s)
      assert(got == rows(b), s"$what: stored rows differ from the build body")
      r.buckets.foreach(n => assert(bucketCount(s).contains(n), s"$what: bucket spec ${bucketCount(s)}"))
      assert(partitionColumns(s) == r.partitionedBy, s"$what: partition columns ${partitionColumns(s)}")
      val name = catalogTable(s).map(_.identifier.table)
        .getOrElse(fail(s"$what: not read back from a catalog table"))
      assert(name.startsWith(r.family + "_"), s"$what: read from $name")
      r -> (name, got, bucketCount(s))
    }
    // a changed parameter or input lands on a different table and
    // returns that setting's rows
    results.groupBy(_._1.group).foreach { case (group, rs) =>
      val bySetting = rs.groupBy(_._1.setting)
      if (bySetting.size > 1) {
        rs.groupBy(_._1.family).foreach { case (family, fs) =>
          assert(fs.map(_._2._1).distinct.size == fs.size, s"$family: settings share a table")
        }
        val outputs = bySetting.values.map(_.sortBy(_._1.family).map(x => (x._2._2, x._2._3)))
        assert(outputs.toSeq.distinct.size == bySetting.size,
          s"$group: settings return identical artifacts, so the case proves nothing")
      }
    }
    // the keeper store derived from stored fingerprints equals the
    // text re-hash
    assert(rows(DedupOps.fingerprintStoreFromFps(DedupOps.docFingerprintsFor(docs))) ==
      rows(DedupOps.fingerprintStore(docs)))
  }

  test("warm passes over stored artifacts build nothing, before and after releaseAll") {
    val names = Seq("q42_minhash_lsh_pairs", "q43_simhash_pairs", "q61_near_dedup",
      "q113_shared_spans", "q145_bm25_topk", "q220_curation_funnel",
      "q231_incremental_split", "q247_ingest_funnel", "q284_user_takedown",
      "q255_ivfpq_recall", "q266_ann_ladder", "q289_pq_v2_promotion")
    val specs = names.map(n => graft.queries.Catalog.specs.find(_.name == n)
      .getOrElse(fail(s"no catalog query $n")))
    def pass(): Seq[Seq[String]] = specs.map(sp => rows(sp.run(spark, sf)))
    val cold = pass()
    val built = Artifacts.builds
    val warm = pass()
    assert(Artifacts.builds == built, "a warm pass must build no artifact")
    assert(warm == cold, "warm rows must equal the cold pass")
    Artifacts.releaseAll() // in-session values dropped; the catalog tables stay
    val restarted = pass()
    assert(Artifacts.builds == built, "a released session must reload every artifact, not rebuild")
    assert(restarted == cold, "rows after releaseAll must equal the cold pass")
  }

  test("persistence stays in Artifacts: no stray saveAsTable, hash-named table or release hook") {
    val code = sourceLines
    def offenders(p: ((String, Int, String)) => Boolean) =
      code.filter(p).map { case (f, n, t) => s"$f:$n: $t" }
    val writers = Set("Artifacts.scala", "WriteOps.scala")
    val defRe = """\bdef (\w+)""".r
    val enclosingDef = code.scanLeft("") { case (d, (_, _, t)) =>
      defRe.findFirstMatchIn(t).map(_.group(1)).getOrElse(d) }.tail
    assert(offenders { case (f, _, t) =>
      t.contains("saveAsTable(") && !writers(f) && !t.contains("saveAsTable(ptrT)") }.isEmpty,
      "saveAsTable outside Artifacts, WriteOps and the PQ serving-pointer writer")
    // Catalog.tmpDir names the write-path queries' output directories,
    // not a store
    val hashNamed = code.zip(enclosingDef).collect {
      case ((f, n, t), d) if t.contains("toHexString(") && t.contains("hashCode") &&
          !(f == "Catalog.scala" && d == "tmpDir") => s"$f:$n ($d): $t"
    }
    assert(hashNamed.isEmpty, s"a name built from a hashCode:\n${hashNamed.mkString("\n")}")
    assert(offenders { case (_, _, t) => "def release\\s*\\(".r.findFirstIn(t).isDefined }.isEmpty,
      "a release hook besides Artifacts.releaseAll")
    assert(offenders { case (f, _, t) =>
      f != "StreamOps.scala" && "var \\w*[mM]emo\\b".r.findFirstIn(t).isDefined }.isEmpty,
      "an in-session memo var outside Artifacts")
    // one form per stored input: the engine's *For builders, not
    // accessor objects over a fixture directory; an in-session value
    // is keyed like a table (a `(name, dir)` key outlives a rewrite)
    val sharedObjects = offenders { case (_, _, t) => """\bobject \w*Shared\b""".r.findFirstIn(t).isDefined }
    assert(sharedObjects.isEmpty, s"a *Shared accessor object:\n${sharedObjects.mkString("\n")}")
    val looseMemoKeys = offenders { case (_, _, t) =>
      """Artifacts\.memo\((?!Artifacts\.nameFor\()""".r.findFirstIn(t).isDefined }
    assert(looseMemoKeys.isEmpty,
      s"an Artifacts.memo key that is not an Artifacts.nameFor:\n${looseMemoKeys.mkString("\n")}")
    // operators read their own stored inputs: the only Option dual
    // paths left are the manifest-certificate operators (a staleness
    // check on a caller-supplied manifest); a stream sink's carried
    // state resumes from its own committed snapshot
    val certOps = Set("takedownApply", "takedownApplyFrom", "takedownPropagation",
      "docRetentionSweep")
    val storedOption = """\bstored[A-Z]\w*: Option\[""".r
    val strayOptions = code.zip(enclosingDef).collect {
      case ((f, n, t), d) if storedOption.findFirstIn(t).isDefined &&
          !(certOps(d) && t.contains("storedManifest:")) => s"$f:$n ($d): $t"
    }
    assert(strayOptions.isEmpty, s"a stored*: Option dual path:\n${strayOptions.mkString("\n")}")
    // one tick-commit loop: only TickCommit.sink drives the protocol
    val tickSteps = offenders { case (f, _, t) =>
      f != "TickCommit.scala" &&
        """TickCommit\.(?:bind|isCommitted|stage|seal)\(""".r.findFirstIn(t).isDefined }
    assert(tickSteps.isEmpty,
      s"a tick-commit step outside TickCommit.sink:\n${tickSteps.mkString("\n")}")
    // store keys carry parameters and input identity, not a caller tag
    // (the PQ serving pointer is mutable state a tag names)
    val keyCall = """Artifacts\.(?:table|ensure|nameFor|memo)\(""".r
    val taggedKeys = code.zip(code.drop(1) :+ (("", 0, ""))).collect {
      case ((f, n, t), (_, _, next)) if keyCall.findFirstIn(t).isDefined &&
          """\btag\b""".r.findFirstIn((t + " " + next).split("""\)\(""").head).isDefined &&
          !t.contains("\"pq_serving_ptr\"") && !t.contains("\"pq_promotion\"") => s"$f:$n: $t"
    }
    assert(taggedKeys.isEmpty, s"a tag inside a store key:\n${taggedKeys.mkString("\n")}")
    val catalogStored = code.collect {
      case (f, n, t) if f == "Catalog.scala" && """stored\w* = Some\(""".r.findFirstIn(t).isDefined =>
        s"$n: $t"
    }
    assert(catalogStored.size == 3 && catalogStored.forall(_.contains("storedManifest = Some(")),
      s"the catalog passes a stored artifact to an operator:\n${catalogStored.mkString("\n")}")
  }
}
