package graft

import org.apache.spark.sql.functions._

import graft.engine.{Artifacts, PartitionedTables, Tables}
import graft.engine.Exact._

/** Scale-path evidence tests: the partitioned storage layer and the
  * runtime pruning it unlocks (SURVEY §2.1 S1 100 TB column; VERDICT
  * r3 missing item 4). */
class ScaleSpec extends SparkSpec {

  test("partitioned layout round-trips orders exactly") {
    val part = PartitionedTables.ordersByMonthFor(Tables.orders(spark, sf))
    val raw = Tables.orders(spark, sf)
    assert(part.count() == raw.count())
    // partition column equals the derived month for every row
    assert(part.filter(col("o_month") =!= month(col("o_orderdate"))).count() == 0)
  }

  test("partitioned layout resolves through the session catalog via spark.read.table") {
    val viaTable = PartitionedTables.ordersByMonthFor(Tables.orders(spark, sf))
    // the layout lives in the table's own catalog entry
    assert(catalogTable(viaTable).map(_.partitionColumnNames).contains(Seq("o_month")),
      s"expected a catalog table partitioned on o_month: ${catalogTable(viaTable)}")
    assert(viaTable.count() == Tables.orders(spark, sf).count())
    // the partition column survives catalog resolution and still
    // prunes statically: a single-month read scans one partition
    val one = viaTable.filter(col("o_month") === 3)
    val planned = one.queryExecution.executedPlan.toString
    assert(planned.contains("PartitionFilters") && planned.contains("o_month"),
      s"expected a partition filter on o_month in:\n$planned")
    assert(one.count() ==
      Tables.orders(spark, sf).filter(month(col("o_orderdate")) === 3).count())
  }

  test("bucketed orders-customer join plans with no join-side shuffle, matches raw join") {
    val o = PartitionedTables.ordersBucketedFor(Tables.orders(spark, sf))
    val c = PartitionedTables.customerBucketedFor(Tables.customer(spark, sf))
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
    // with broadcasting off the join must be a sort-merge join, which
    // shuffles both sides unless the layout pre-distributes them
    // (a broadcast join has no hash exchange whatever the layout)
    val conf = spark.conf
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = conf.getOption(threshold)
    val plan = try {
      conf.set(threshold, "-1")
      joined.queryExecution.executedPlan.toString
    } finally saved.fold(conf.unset(threshold))(conf.set(threshold, _))
    // both sides are pre-distributed by the bucketing — a hash exchange
    // under the join would mean the layout was ignored
    assert(plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning"),
      s"bucketed join must sort-merge without shuffling either side:\n$plan")
    val ro = Tables.orders(spark, sf)
    val rc = Tables.customer(spark, sf)
    assert(joined.count() == ro.join(rc, ro("o_custkey") === rc("c_custkey")).count())
    // and the full rollup matches the plain-table computation
    val got = PartitionedTables.bucketedJoinRollup(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = ro
      .join(rc, ro("o_custkey") === rc("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(decSum(col("o_totalprice")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == direct)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      // force a sort-merge join and lower the skew thresholds to
      // local-test scale (the 100 TB defaults are 256 MB partitions)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // a hot key holding ~90% of the fact — the heavy-hitter shape
      // saltedRollup rewrites by hand; here AQE must handle it unaided
      val fact = spark.range(0, 120000)
        .select(when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 64).as("k"),
                concat(lit("pad_pad_pad_pad_pad_"), col("id")).as("pad"))
      val dim = spark.range(0, 64).select(col("id").as("k"), col("id").as("v"))
      val joined = fact.join(dim, "k")
      // execute THIS dataframe's query execution (count() would spawn
      // its own) so the adaptive plan we inspect is the finalized one
      assert(joined.collect().length == 120000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the hot-key join as skew-handled:\n$plan")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("connected components converge in few rounds on the near-dedup edge sets") {
    import graft.engine.{DedupOps, Tables}
    val docs = Tables.documents(spark, sf)
    // q61's edge set (capped exhaustive Jaccard) and q70's sketch set
    val exact = DedupOps.jaccardPairs(docs).select(col("doc_i"), col("doc_j"))
    // one propagation run: (labels, nodes, directed symmetric edges —
    // 2× the input pairs —, rounds to fixpoint incl. the detection round)
    def converge(edges: org.apache.spark.sql.DataFrame) = {
      val (labels, rounds, nodes, sym) =
        DedupOps.ccRun(docs.select(col("doc_id")), edges, maxIter = 100)
      val symEdges = sym.count()
      sym.unpersist(blocking = false)
      (labels, nodes, symEdges, rounds)
    }
    val (labels, nodes, symEdges, rounds) = converge(exact)
    info(s"q61 edge set: nodes=$nodes symEdges=$symEdges rounds=$rounds")
    assert(labels.count() == nodes)
    // rounds = cluster diameter + 1 detection round; near-dup clusters
    // are shallow, so propagation must finish far below the maxIter
    // guard (recorded per scale factor in SCALE.md)
    assert(rounds <= 8, s"expected shallow clusters, took $rounds rounds")
    val sketch = DedupOps.minhashPairsFor(docs)
      .filter(col("est_jaccard") >= 0.5).select(col("doc_i"), col("doc_j"))
    val (_, nodes2, symEdges2, rounds2) = converge(sketch)
    info(s"minhash edge set: nodes=$nodes2 symEdges=$symEdges2 rounds=$rounds2")
    assert(rounds2 <= 8)
  }

  test("round-5 plan shapes: broadcast anti-join, single Expand, decorrelated semi join") {
    import graft.engine.{AggregateOps, DedupOps}
    val docs = Tables.documents(spark, sf)
    val li = Tables.lineitem(spark, sf)
    // q92: incremental dedup anti-joins the fingerprint set (broadcast here)
    val q92 = DedupOps.incrementalExactDedup(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400))
    q92.collect()
    val p92 = q92.queryExecution.executedPlan.toString
    assert(p92.contains("LeftAnti"), s"expected an anti-join:\n$p92")
    // q96: grouping sets expand into ONE aggregate pass, never a union of scans
    val q96 = AggregateOps.groupingSetsAgg(li)
    q96.collect()
    val p96 = q96.queryExecution.executedPlan.toString
    assert(p96.contains("Expand") && !p96.contains("Union"),
      s"grouping sets must be one Expand + aggregate pass:\n$p96")
    // q97: the correlated EXISTS decorrelates to a semi join
    val q97 = AggregateOps.sqlExistsSubquery(Tables.orders(spark, sf), li)
    q97.collect()
    val p97 = q97.queryExecution.executedPlan.toString
    assert(p97.contains("LeftSemi"), s"EXISTS must decorrelate to a semi join:\n$p97")
  }

  test("quarter rollup over partitioned fact: DPP in the plan, result matches raw table") {
    val df = PartitionedTables.quarterRollup(spark, sf, quarter = 1)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = Tables.orders(spark, sf)
      .filter(month(col("o_orderdate")).isin(1, 2, 3))
      .groupBy(month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(decSum(col("o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == direct, s"partitioned result diverges: $got vs $direct")
    // The month predicate never appears in the query over the fact —
    // it must reach the partitioned scan as a DynamicPruningExpression
    // built from the filtered dim at runtime.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected dynamic partition pruning in the physical plan:\n$plan")
  }

  test("quarter rollup after its orders are rewritten reads the new rows: no stale layout") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_ptables_rewrite_")
    Files.copy(Paths.get(s"$sf/orders.parquet"), dir.resolve("orders.parquet"))
    def rollup() = PartitionedTables.quarterRollup(spark, dir.toString, quarter = 1).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val before = rollup()
    // a strict subset, swapped in for the same orders path
    val staged = dir.resolve("orders_subset").toString
    Tables.orders(spark, sf).filter(col("o_orderkey") % 3 =!= 0).coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dir.resolve("orders.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val direct = Tables.orders(spark, dir.toString)
      .filter(month(col("o_orderdate")).isin(1, 2, 3))
      .groupBy(month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(decSum(col("o_totalprice")).as("total_price"), count(lit(1)).as("n_orders"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(direct != before, "the rewrite must change the quarter's rollup")
    assert(rollup() == direct, "the rollup must read the rewritten orders")
  }

  test("IVF index reloads after releaseAll: probe scans the bucketed table, no refit") {
    import graft.engine.SimilarityOps
    val emb = Tables.embeddings(spark, sf)
    // first call: builds the quantizer and persists the catalog tables
    SimilarityOps.ivfIndexFor(emb)
    // drop the in-session state; the catalog tables stay for the rest
    // of the process
    Artifacts.releaseAll()
    val buildsBefore = Artifacts.builds("ivf_assign")
    val idx = SimilarityOps.ivfIndexFor(emb)
    assert(Artifacts.builds("ivf_assign") == buildsBefore,
      "loading a persisted IVF index must not refit the quantizer")
    val at = catalogTable(idx.assigned).map(_.identifier.table)
      .getOrElse(fail("the loaded index must read a catalog table"))
    val optimized = idx.assigned.queryExecution.optimizedPlan.toString
    assert(optimized.contains("ivf_assign_"),
      s"expected the probe side to scan the catalog table $at:\n$optimized")
    // the persisted layout carries the list_id bucket spec
    val desc = spark.sql(s"DESCRIBE EXTENDED $at")
      .collect().map(_.mkString(" ")).mkString("\n")
    assert(desc.contains("Num Buckets") && desc.contains("list_id"),
      s"expected a list_id bucket spec on $at:\n$desc")
    // probes over the persisted index are value-identical to a fresh
    // in-memory build (same seed, same quantizer)
    val persisted = SimilarityOps.ivfTopK(idx, nQueries = 5, k = 10, nProbe = 4).collect()
    val fresh = SimilarityOps.ivfTopK(
      SimilarityOps.buildIvfIndex(emb), nQueries = 5, k = 10, nProbe = 4).collect()
    assert(persisted.sameElements(fresh),
      "persisted-index probe results diverge from a fresh build")
  }

  test("expensive text expressions evaluate once per row across the audited operators") {
    // Regression pin for the round-7 pushdown audit: a filter on a
    // computed column gets pushed below its projection by
    // substituting the full expression, so the text pass runs twice
    // per row. Each audited operator must mention its dominant
    // expression exactly once in the optimized plan.
    import graft.engine.{CorpusOps, DedupOps, TextOps}
    val docs = graft.engine.Tables.documents(spark, sf)
    def occurrences(df: org.apache.spark.sql.DataFrame, token: String): Int =
      token.r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    assert(occurrences(DedupOps.minhashSignatures(docs), "shingle_hashes") == 1)
    assert(occurrences(DedupOps.simhashSignatures(docs), "regexp_extract_all") == 1)
    assert(occurrences(TextOps.wordNgrams(docs), "regexp_extract_all") == 1)
    assert(occurrences(TextOps.repetitionSignals(docs), "regexp_extract_all") == 1)
    // packing routes through the two-phase cumsum (r18), whose narrow
    // token projection materializes ONCE behind a localCheckpoint —
    // the consumer plan must carry ZERO copies of the regex pass (a
    // reappearance means the single-materialization dedup broke and
    // the pass runs per join side again)
    assert(occurrences(CorpusOps.packSequences(docs), "regexp_extract_all") == 0)
    // the r18 loader family reads stored order/pack/anneal tables; the
    // build bodies of those tables consume the token counts through
    // the same checkpointed narrow projection — zero regex copies in
    // the order rows (read by shuffleQualityAudit/orderCommitment) and
    // the pack rows (read by loaderResume, epochSpacing, packEfficiency
    // and batchMixture); the anneal order adds exactly the quality
    // pass (two regexp_extract_all: token count + stopword count), once
    val orderRows = CorpusOps.epochOrderRows(docs, 4L, 4L, 8)
    assert(occurrences(orderRows, "regexp_extract_all") == 0)
    assert(occurrences(CorpusOps.epochPackRows(orderRows, 2048), "regexp_extract_all") == 0)
    assert(occurrences(CorpusOps.annealOrderRows(docs, 4L, 4L, 8), "regexp_extract_all") == 2)
  }

  test("shared-span postings cap bounds a boilerplate-flooded corpus") {
    import spark.implicits._
    // adversarial fixture (VERDICT r7 stretch): ONE hot template
    // passage in 700 docs. Its grams have 700 postings each; without
    // the cap the diagonal self-join materializes C(700,2) ≈ 245k doc
    // pairs per boilerplate gram — the quadratic blowup a universal
    // footer causes at corpus scale. With the cap (maxPostings=50)
    // the flood grams never enter the join and only the genuine
    // 2-doc copied span surfaces.
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val flood = (1L to 700L).map(i => (i, s"$boiler unique$i trailing words", "en", "s"))
    val span = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = (flood ++ Seq(
      (100001L, s"alpha beta gamma $span delta epsilon", "en", "s"),
      (100002L, s"different intro words $span tail content here", "en", "s")
    )).toDF("doc_id", "text", "lang", "source").repartition(32).cache()
    corpus.count()
    try {
      def timed[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
      }
      val (capped, tCap) = timed(
        graft.engine.TextOps.sharedSpans(corpus, n = 10, minShared = 3).collect())
      assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100001L, 100002L)),
        "cap must exclude every flood pair and keep the genuine copied span")
      // cap lifted: the same corpus pays the quadratic flood — every
      // flood doc pairs with every other (the 3 boilerplate grams all
      // land on one diagonal per pair, 3 >= minShared)
      val (uncapped, tNo) = timed(
        graft.engine.TextOps.sharedSpans(corpus, n = 10, minShared = 3,
          maxPostings = 1000000).collect())
      assert(uncapped.length == 700 * 699 / 2 + 1,
        s"expected the full flood blowup without the cap, got ${uncapped.length}")
      // at 700 docs local[32] absorbs 245k pairs in similar wall time
      // (~2.5 s both) — the cap's effect is the OUTPUT bound: pairs
      // grow as C(flood,2) without it (245k here, 10^13 at a 5M-doc
      // template footprint) and stay at the genuine-copy count with it
      info(f"postings cap: 1 pair in $tCap%.2f s capped vs ${uncapped.length} pairs in $tNo%.2f s uncapped")
    } finally corpus.unpersist()
  }

  test("q102 zero-vector guard stays out of the quantize chain under pushdown") {
    // Regression pin for the r7 finding: a qn > 0 filter placed after
    // the quantize projections gets predicate-pushed below them by
    // RE-DERIVING qn, inlining ~6 interpreted HOF array passes into
    // the filter (2.6x the query's runtime). The guard now lives on
    // the raw embedding column; assert no Filter in the optimized
    // plan carries a folded aggregate/zip_with chain.
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val plan = graft.engine.SimilarityOps.quantizedCosineTopK(emb)
      .queryExecution.optimizedPlan
    val filterConds = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.toString
    }
    assert(filterConds.exists(_.contains("exists")),
      "the zero-vector guard (exists on the raw embedding) must be present in a filter")
    filterConds.foreach { c =>
      assert(!c.contains("zip_with") && !c.contains("aggregate("),
        s"quantize chain re-derived inside a pushed filter:\n$c")
    }
  }

  test("q148 window is sub-sharded (>10 partition keys) and bit-identical to the naive rank") {
    import spark.implicits._
    import graft.engine.CorpusOps
    // skewed corpus: 2000 docs, ALL landing in the 16-token bucket —
    // the shape where a fixed-bucket-key window serializes into one
    // task (the r8 verdict scale-killer)
    val corpus = (1L to 2000L)
      .map(i => (i, Seq.fill(10)("w").mkString(" "), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val sharded = CorpusOps.lengthBucketBatches(corpus, batchSize = 8, subShards = 16)
    // the rank window must partition by (bucket, sub), not bucket
    // alone: 1 bucket × 16 subshards = 16-way parallel rank
    val plan = sharded.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(bucket") && plan.contains("sub"),
      s"expected the rank window keyed by (bucket, sub):\n$plan")
    val windowKeys = "hashpartitioning\\(bucket[^)]*sub".r.findFirstIn(plan)
    assert(windowKeys.isDefined, s"window exchange not sub-sharded:\n$plan")
    // subShards=1 degenerates to the naive single-task rank; the
    // sub-sharded output must be bit-identical (range sub-sharding is
    // monotone in doc_id, so (sub, doc_id) order IS doc_id order)
    val naive = CorpusOps.lengthBucketBatches(corpus, batchSize = 8, subShards = 1)
      .collect().map(_.toString).toSeq
    assert(sharded.collect().map(_.toString).toSeq == naive)
    // and the fixture corpus agrees across shard counts too
    val docs = Tables.documents(spark, sf)
    val a = CorpusOps.lengthBucketBatches(docs, subShards = 1).collect().map(_.toString).toSeq
    val b = CorpusOps.lengthBucketBatches(docs, subShards = 32).collect().map(_.toString).toSeq
    assert(a == b, "subShards must not change the batch manifest")
  }

  test("seededShuffle permutation is invariant to nShards modulo (shard, pos) renumbering") {
    import graft.engine.CorpusOps
    // the permutation's canonical form is the global (shuffle_key,
    // doc_id) order; (shard, pos) is a renumbering of it — for ANY
    // nShards, reading one shard in pos order must observe exactly
    // the canonical order restricted to that shard's docs. This is
    // the sizing-freedom contract: shards ≈ corpus / target
    // partition rows can be chosen per deploy without changing what
    // a loader that merges shards by key order would see.
    val docs = Tables.documents(spark, sf)
    val canonical = CorpusOps.seededShuffle(docs, nShards = 1).collect()
      .sortBy(r => (r.getLong(1), r.getLong(0))).map(_.getLong(0)).toSeq
    for (n <- Seq(3, 8, 17)) {
      val rows = CorpusOps.seededShuffle(docs, nShards = n).collect()
      assert(rows.map(_.getLong(0)).toSet == canonical.toSet, s"nShards=$n drops docs")
      rows.groupBy(_.getLong(2)).foreach { case (shard, rs) =>
        val byPos = rs.sortBy(_.getLong(3)).map(_.getLong(0)).toSeq
        val expected = canonical.filter(d => rs.exists(_.getLong(0) == d))
        assert(byPos == expected, s"nShards=$n shard $shard breaks canonical order")
        assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq,
          s"nShards=$n shard $shard pos not dense")
      }
    }
  }

  test("salted join runs sort-merge on (key, salt) and matches the plain rollup") {
    import graft.engine.RelationalOps
    val li = Tables.lineitem(spark, sf)
    val sup = Tables.supplier(spark, sf)
    val salted = RelationalOps.saltedJoinRollup(li, sup, salts = 8)
    // plan shape: the merge hint holds — the join is NOT broadcast
    // (broadcast would defeat the skew spread the salt exists for)
    // and the salt column is part of the join key
    salted.collect() // run first so AQE's final plan is inspected
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected sort-merge join in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"dim must not broadcast:\n$plan")
    assert(plan.contains("salt"), s"salt must participate in the join key:\n$plan")
    // semantics: identical to the unsalted broadcast join rollup
    val got = salted.collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(decSum(col("l_extendedprice")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == direct)
  }

  test("fixed-point pagerank is bit-identical under any input partitioning") {
    import graft.engine.GraphOps
    val docs = Tables.documents(spark, sf)
    // integer floor-div rank arithmetic must make the result independent
    // of partition count and row order — the determinism claim a float
    // PageRank cannot make (accumulation-order-dependent sums)
    val base = GraphOps.pagerank(GraphOps.hostLinks(docs)).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val reparted = GraphOps.pagerank(
      GraphOps.hostLinks(docs.repartition(13, col("source"))).repartition(7))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(base == reparted, "ranks drifted under repartitioning")
    // total rank mass stays within the floor-division loss bound:
    // each of the 3 iterations floors at most 1 unit per node per term
    val total = base.values.sum
    assert(total <= GraphOps.Scale && total > GraphOps.Scale * 97 / 100,
      s"mass out of bounds: $total")
  }

  test("PMI pair join runs vocab-broadcast + doc-co-partitioned, never corpus×corpus") {
    import graft.engine.TextOps
    val q = TextOps.pmiPairs(Tables.documents(spark, sf))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the top-df vocab prune reaches both pair sides as a broadcast
    assert(plan.contains("BroadcastHashJoin"), s"vocab must broadcast:\n$plan")
    // the pair self-join itself is an equi-join on doc_id (co-partitioned
    // shuffle), not a nested-loop product; the ONE allowed nested-loop is
    // the 1-row corpus-count broadcast (crossJoin(broadcast(nDocs)))
    assert(!plan.contains("CartesianProduct"), s"no cartesian product:\n$plan")
    // AQE prints the final plan then the initial plan — count only the final
    val finalPlan = plan.split("== Initial Plan ==").head
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(finalPlan).size
    assert(bnlj <= 1, s"only the 1-row count frame may nested-loop (saw $bnlj):\n$finalPlan")
  }

  test("r18 loader family: windows key on shard/doc; the invalidation diff has no cartesian") {
    import graft.engine.{CorpusOps, Tables}
    val docs = Tables.documents(spark, sf)
    // q300: the spacing window partitions by doc_id — bounded per doc
    // (≤ 5 occurrences), never a global order
    val sp = CorpusOps.epochSpacing(docs)
    sp.collect()
    val spPlan = sp.queryExecution.executedPlan.toString
    assert(spPlan.contains("hashpartitioning(doc_id"),
      s"spacing window must key on doc_id:\n${spPlan.take(2000)}")
    // q301: the anneal rank partitions by shard (nShards is the
    // parallelism knob) and there is no global Sort below the window —
    // asserted on the build body of the stored anneal-order table
    val ann = CorpusOps.annealOrderRows(docs, 4L, 4L, 8)
    ann.collect()
    val annPlan = ann.queryExecution.executedPlan.toString
    assert(annPlan.contains("hashpartitioning(shard"),
      s"anneal rank must key on shard:\n${annPlan.take(2000)}")
    // q303: the v1/v2 diff is an equi-join on (shard, pos) — a
    // co-partitioned shuffle, never a nested-loop product
    val inv = CorpusOps.packInvalidation(docs, docs.filter(col("doc_id") % 37 =!= 0))
    inv.collect()
    val invPlan = inv.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!invPlan.contains("CartesianProduct") &&
      !invPlan.contains("BroadcastNestedLoopJoin"),
      s"invalidation diff must equi-join on (shard, pos):\n${invPlan.take(2000)}")
    // and the first-dirty window keys on shard, sharing the join's
    // partitioning family rather than collapsing to a single task
    assert(invPlan.contains("hashpartitioning(shard"),
      s"first-dirty window must key on shard:\n${invPlan.take(2000)}")
  }

  test("r10 windows: admission cumsum keys on source; hard-negative ranks key on anchor") {
    import graft.engine.{CorpusOps, RetrievalOps, Tables}
    // q230: the only corpus-scale window is the per-source cumsum —
    // it must exchange on source (parallel across sources), never run
    // unpartitioned
    val adm = CorpusOps.budgetAdmission(Tables.documents(spark, sf))
    adm.collect()
    val admPlan = adm.queryExecution.executedPlan.toString
    assert(admPlan.contains("hashpartitioning(source"),
      s"admission cumsum must key on source:\n${admPlan.take(2000)}")
    // q232: the rank window partitions by the anchor id — candidate-
    // bounded per anchor, never a global order
    val hn = RetrievalOps.hardNegatives(
      RetrievalOps.bm25Postings(Tables.documents(spark, sf)),
      RetrievalOps.bm25DocLengths(Tables.documents(spark, sf)),
      graft.engine.DedupOps.connectedComponents(
        Tables.documents(spark, sf).select(col("doc_id")),
        graft.engine.DedupOps.jaccardPairs(Tables.documents(spark, sf))
          .select(col("doc_i"), col("doc_j"))))
    hn.collect()
    val hnPlan = hn.queryExecution.executedPlan.toString
    assert(hnPlan.contains("hashpartitioning(qid"),
      s"hard-negative rank window must key on the anchor:\n${hnPlan.take(2000)}")
  }

  test("lateness audit's event-sized window exchanges on shard, never a single task") {
    import graft.engine.{EventOps, Tables}
    val plan = EventOps.latenessAudit(Tables.events(spark, sf))
      .queryExecution.executedPlan.toString
    // the per-event running max must partition by the sub-shard key,
    // AND the shard-maxima pass must itself partition by the super-
    // shard key; only the super-maxima frame (n/(shardSize·superSize)
    // rows) may use the unpartitioned ordered window
    assert(plan.contains("hashpartitioning(shard"),
      s"expected the event-sized window keyed by shard:\n$plan")
    assert(plan.contains("hashpartitioning(sup"),
      s"expected the shard-maxima window keyed by super-shard:\n$plan")
  }

  test("rk-bounded sample/keyword windows plan WindowGroupLimit; the GK bracket is a sliver") {
    import org.apache.spark.sql.functions._
    import graft.engine.{CorpusOps, Tables, TextOps}
    val docs = Tables.documents(spark, sf)
    // q195/q203 consume their rank windows only under rk <= k, so
    // Spark 4 must plan per-partition top-k heaps — never a full
    // per-key sort materialization
    val p195 = CorpusOps.weightedPrioritySample(docs)
      .queryExecution.executedPlan.toString
    assert(p195.contains("WindowGroupLimit"),
      s"q195 expects WindowGroupLimit:\n$p195")
    val p203 = TextOps.docKeywords(docs).queryExecution.executedPlan.toString
    assert(p203.contains("WindowGroupLimit"),
      s"q203 expects WindowGroupLimit:\n$p203")
    // q194's scale claim: the refine pass ranks only the in-bracket
    // sliver. Reproduce the bracket independently and measure it on
    // the real fixture — it must be well under 5% of the table (the
    // guarantee is ~8/accuracy = 0.8%; 5% leaves sketch-jitter room).
    val li = Tables.lineitem(spark, sf)
    val d = 4.0 / 400 // the op's default accuracy
    val br = li
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(c, array(${0.5 - d}, ${0.5 + d}), 400)").as("b"))
      .select(col("l_returnflag"), col("b")(0).as("lo"), col("b")(1).as("hi"))
    val total = li.count()
    val sliver = li
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .join(broadcast(br), "l_returnflag")
      .filter(col("c") >= col("lo") && col("c") <= col("hi"))
      .count()
    assert(sliver.toDouble / total < 0.05,
      s"median bracket holds $sliver of $total rows — not a sliver")
  }

  test("r11 incremental ops: broadcast-bounded probes, batch-keyed windows, no refit/repack") {
    import graft.engine.{CorpusOps, RetrievalOps, SimilarityOps, Tables}
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    // q235: assignment joins the batch against the BROADCAST centroid
    // frame and ranks per vec_id — never a shuffle of stored vectors
    val idx = SimilarityOps.ivfIndexFor(emb)
    val builds0 = Artifacts.builds("ivf_assign")
    val asg = SimilarityOps.ivfIncrementalAssign(idx,
      emb.select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")))
    asg.collect()
    val asgPlan = asg.queryExecution.executedPlan.toString
    assert(asgPlan.contains("BroadcastNestedLoopJoin") || asgPlan.contains("BroadcastExchange"),
      s"centroids must broadcast:\n${asgPlan.take(1500)}")
    assert(asgPlan.contains("hashpartitioning(vec_id"),
      s"argmin window must key on the batch vector id:\n${asgPlan.take(1500)}")
    assert(Artifacts.builds("ivf_assign") == builds0, "incremental assign must never re-fit")
    // q237: the stored-postings probe is a broadcast semi join on the
    // batch vocabulary — the stored side never hashes on w for this
    val batch = docs.filter(pmod(col("doc_id"), lit(13)) === 5)
      .withColumn("doc_id", col("doc_id") + lit(2000000L))
    val inc = RetrievalOps.bm25IncrementalAppend(
      RetrievalOps.bm25Postings(docs), RetrievalOps.bm25DocLengths(docs), batch)
    inc.collect()
    val incPlan = inc.queryExecution.executedPlan.toString
    assert(incPlan.contains("LeftSemi, BuildRight") || incPlan.contains("LeftSemi BuildRight"),
      s"stored postings must probe via broadcast semi join:\n${incPlan.take(1500)}")
    // q238: the only window keys on the stream column and runs over
    // the BATCH; the stored side contributes one broadcast rollup
    val pk = CorpusOps.packSequencesIncremental(docs,
      docs.filter(pmod(col("doc_id"), lit(11)) === 7)
        .withColumn("doc_id", col("doc_id") + lit(3000000L)))
    pk.collect()
    val pkPlan = pk.queryExecution.executedPlan.toString
    assert(pkPlan.contains("hashpartitioning(lang"),
      s"incremental packing window must key on the stream:\n${pkPlan.take(1500)}")
    assert(pkPlan.contains("BroadcastExchange"),
      s"stream base offsets must broadcast:\n${pkPlan.take(1500)}")
  }

  test("r11 PQ/LM maintenance: literal-inlined encode, stored-table reads, metadata joins") {
    import graft.engine.{SimilarityOps, Tables, TextOps}
    val emb = Tables.embeddings(spark, sf)
    val cb = SimilarityOps.pqCodebookFor(emb)
    // q244 probe: the encode inlines the codebook as literals, so the
    // error-stats plan is a pure map + ONE global agg — no join node
    // of any kind (a fanout join here would be the 64x-row regression
    // the pqEncode scaladoc warns about)
    val stats = SimilarityOps.pqErrStats(cb, emb)
    stats.collect()
    val sp = stats.queryExecution.executedPlan.toString
    assert(!sp.contains("Join"), s"encode must not join:\n${sp.take(1200)}")
    // the drift report's baseline x probe join is m-row metadata on
    // both sides: anything but a broadcast is a plan bug
    val dr = SimilarityOps.pqDrift(cb,
      SimilarityOps.pqBaselineFor(emb), emb)
    dr.collect()
    val dp = dr.queryExecution.executedPlan.toString
    assert(!dp.contains("SortMergeJoin"),
      s"metadata join must never sort-merge:\n${dp.take(1200)}")
    // q245: with the model served from the persisted tables, a merge +
    // score touches the BATCH text and the lm_* catalog tables only —
    // zero refits (lmFits flat) and the scan set says so
    val stored = TextOps.lmModelFor(Tables.documents(spark, sf))
    val fits0 = TextOps.lmFits
    val batch = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(17)) === 3)
      .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text"))
    val scored = TextOps.lmScoreWith(TextOps.lmModelMerge(stored, batch), batch)
    scored.collect()
    assert(TextOps.lmFits == fits0, "incremental merge+score must not refit the model")
    val mp = scored.queryExecution.executedPlan.toString
    assert(mp.contains(Artifacts.nameFor("lm_bi", Nil, Seq(Tables.documents(spark, sf)))),
      s"merge must read the persisted bigram table:\n${mp.take(1200)}")
  }

  test("r11 retrieval/probe ops never re-tokenize the corpus") {
    import graft.engine.{RetrievalOps, SimilarityOps, Tables}
    // q248: both retrieval stages and the mining stage run off the
    // stored postings — the executed plan has no tokenize anywhere
    val docs = Tables.documents(spark, sf)
    val exp = RetrievalOps.queryExpansion(
      RetrievalOps.bm25PostingsFor(docs), RetrievalOps.bm25DocLengthsFor(docs))
    exp.collect()
    val ep = exp.queryExecution.executedPlan.toString
    assert(!ep.contains("regexp_extract_all"),
      "query expansion must serve entirely from the stored index")
    // q246: the probe reads the stored assignment table and the batch
    // — stored embeddings parquet is scanned zero times
    val probe = SimilarityOps.ivfSemanticProbe(
      SimilarityOps.ivfIndexFor(Tables.embeddings(spark, sf)),
      Tables.embeddings(spark, sf)
        .select((col("vec_id") + lit(7000000L)).as("vec_id"), col("embedding")))
    probe.collect()
    val pp = probe.queryExecution.executedPlan.toString
    val embScans = "embeddings\\.parquet".r.findAllIn(pp).length
    assert(embScans == 0,
      s"probe plan must read the pinned batch + the stored assignment table, " +
        s"never raw embeddings ($embScans scans):\n${pp.take(1200)}")
    assert(pp.contains("ivf_assign"),
      s"stored side must come from the persisted assignment table:\n${pp.take(1200)}")
  }

  test("r15 exact-order-stat family: rank windows are bracket- or bin-bounded, never full-fact") {
    import graft.engine.AggregateOps
    val li = Tables.lineitem(spark, sf)
    // q165/q167: every row_number rank window must partition by
    // (l_returnflag, tag) — the refine window over the in-bracket
    // sliver — never by the 3-value group key alone (the r14 verdict
    // scale-killer: three reducers each sorting a third of the corpus)
    // q167's report now localCheckpoints the median/MAD frames (r18:
    // the assembly collapse), so its FINAL plan shows ExistingRDD
    // scans where the rank windows used to print — the windows live
    // in the exactRankValues frames the checkpoints materialize.
    // Assert the invariant on that frame directly (same target spec
    // madOutlierReport passes), plus q165 whose plan still carries
    // the windows end-to-end.
    val cents167 = li.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("c"))
    for ((name, df) <- Seq(
        "q165" -> AggregateOps.winsorizedMean(li),
        "q167" -> AggregateOps.exactRankValues(cents167, "l_returnflag",
          Seq((50, 0.5, "(n + 1) DIV 2"))))) {
      val plan = df.queryExecution.executedPlan.toString
      val rankSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(rankSpecs.nonEmpty, s"$name expected rank windows in:\n${plan.take(1500)}")
      rankSpecs.foreach { spec =>
        assert(spec.contains("tag"),
          s"$name rank window must include the bracket tag key, got: $spec")
      }
    }
    // empirical sliver: reproduce the p5/p95 brackets independently and
    // measure how much of the fact they admit to the rank window —
    // guarantee is ~8/accuracy = 2% at accuracy 400; 5% leaves jitter room
    val cents = li.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("c"))
    val d = 4.0 / 400
    val br = cents.groupBy(col("l_returnflag"))
      .agg(expr(s"approx_percentile(c, array(${0.05 - d}, ${0.05 + d}, " +
                s"${0.95 - d}, ${0.95 + d}), 400)").as("b"))
      .select(col("l_returnflag"), col("b")(0).as("lo5"), col("b")(1).as("hi5"),
        col("b")(2).as("lo95"), col("b")(3).as("hi95"))
    val total = li.count()
    val sliver = cents.join(broadcast(br), "l_returnflag")
      .filter((col("c") >= col("lo5") && col("c") <= col("hi5")) ||
              (col("c") >= col("lo95") && col("c") <= col("hi95")))
      .count()
    assert(sliver.toDouble / total < 0.05,
      s"p5/p95 brackets hold $sliver of $total rows — not a sliver")
    // q214: GK carries no weights, so the weighted median two-levels
    // through the bin grid — the in-bin refine pass must admit only the
    // median bin's rows (one of ~value-range/2^14 bins per group)
    val wm = AggregateOps.weightedMedian(li)
    val wmPlan = wm.queryExecution.executedPlan.toString
    // no rank window at all — both windows are keyed cumulative sums
    assert(!wmPlan.contains("row_number()"),
      s"q214 must not rank-window:\n${wmPlan.take(1500)}")
    val binW = 1L << 14
    val inBin = {
      // reproduce the median bin per group straight from the operator's
      // own intermediate (the bin rollup is tiny — safe to collect)
      val binCounts = li.select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("c"),
          col("l_quantity").cast("long").as("wt"))
        .withColumn("bin", expr(s"c DIV $binW"))
        .groupBy(col("l_returnflag"), col("bin")).agg(sum(col("wt")).as("bw"))
        .collect()
      val byGrp = binCounts.groupBy(_.getString(0))
      val mbins = byGrp.map { case (g, rows) =>
        val sorted = rows.sortBy(_.getLong(1))
        val tw = sorted.map(_.getLong(2)).sum
        var cum = 0L
        g -> sorted.find { r => cum += r.getLong(2); cum * 2 >= tw }.get.getLong(1)
      }
      cents.filter(mbins.map { case (g, b) =>
        col("l_returnflag") === g && expr(s"c DIV $binW") === b
      }.reduce(_ || _)).count()
    }
    assert(inBin.toDouble / total < 0.05,
      s"median bin holds $inBin of $total rows — the in-bin pass is not bounded")
  }

  test("r15 conversation packing: windows partition on the user key, state joins broadcast") {
    import graft.engine.TemporalOps
    val ev = Tables.events(spark, sf)
    // q280: every window spec must carry user_id — no corpus-global
    // window and no low-cardinality partition key anywhere
    val p280 = TemporalOps.sessionPackManifest(ev)
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p280).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected windows in:\n${p280.take(1500)}")
    specs.foreach { s =>
      assert(s.contains("user_id"), s"q280 window must key on user_id: $s") }
    // q281: the incremental fold's state joins (touched probe, last-
    // session seed, untouched passthrough) must all broadcast — the
    // carried manifest is session-sized, never shuffled corpus-wide
    val cutoff = org.apache.spark.sql.functions.lit("2024-01-16 00:00:00")
      .cast("timestamp")
    val p281 = TemporalOps.sessionPackIncremental(
        TemporalOps.sessionPackManifest(ev.filter(col("ts") < cutoff)),
        ev.filter(col("ts") >= cutoff))
      .queryExecution.executedPlan.toString
    assert(!p281.contains("SortMergeJoin"),
      s"q281 state joins must broadcast:\n${p281.take(1500)}")
    assert(p281.contains("BroadcastHashJoin"),
      s"q281 expected broadcast state joins:\n${p281.take(1500)}")
  }

  test("r16 user takedown + retention sweep: user-keyed windows only, slice filters reach the scans") {
    import graft.engine.{EventOps, TemporalOps}
    val ev = Tables.events(spark, sf)
    // every window partitions on user_id — no corpus-global window
    // anywhere; returns the window count
    def userKeyedWindows(name: String, plan: String): Int = {
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      specs.foreach { s =>
        assert(s.contains("user_id"), s"$name window must key on user_id: $s") }
      specs.size
    }
    // the six stores the sweeps correct, as their build bodies plan
    // (retention cohorts is a per-user min and a distinct: no window)
    val storeWindows = Seq(
        "ev_manifest" -> TemporalOps.sessionPackManifest(ev),
        "ev_sessions" -> EventOps.sessionize(ev), "ev_funnel" -> EventOps.funnel(ev),
        "ev_retention" -> EventOps.retentionCohorts(ev),
        "ev_transitions" -> EventOps.eventTransitions(ev),
        "ev_attribution" -> EventOps.lastTouchAttribution(ev)).map { case (name, build) =>
      name -> userKeyedWindows(name, build.queryExecution.executedPlan.toString) }
    assert(storeWindows.count(_._2 > 0) == 5, s"store windows: $storeWindows")
    def ledgers(cut: Option[String]) = cut match {
      case Some(c) => EventOps.retentionSweep(ev, c)
      case None =>
        import org.apache.spark.sql.functions.pmod
        EventOps.userTakedown(ev,
          ev.filter(pmod(col("user_id"), lit(5)) === 2).select(col("user_id")))
    }
    for ((name, plan) <- Seq(
        "q284" -> ledgers(None).queryExecution.executedPlan.toString,
        "q286" -> ledgers(Some("2024-01-05 00:00:00"))
          .queryExecution.executedPlan.toString)) {
      // the operators read the stored tables; every window left in the
      // ledger plan partitions on user_id too
      assert(userKeyedWindows(name, plan) > 0, s"$name expected windows:\n${plan.take(1200)}")
      // no driver-side action: the ledger is one declarative plan
      // (this would throw before reaching here if it collected)
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name correction joins should broadcast:\n${plan.take(1200)}")
    }
    // the q286 slice predicate reaches the parquet scan. The final
    // ledger plan cannot show it (the slices localCheckpoint — their
    // scans materialize before the ledger plan exists), so assert on
    // the slice expression itself: nothing in the events relation
    // (e.g. the nanos→timestamp read path) blocks ts pushdown.
    val pSlice = ev.filter(col("ts") <
        lit("2024-01-05 00:00:00").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*LessThan\\(ts".r.findFirstIn(pSlice).isDefined,
      s"the expired-slice predicate must push to the scan:\n" +
        pSlice.linesIterator.filter(_.contains("PushedFilters")).take(4)
          .mkString("\n"))
  }
}
