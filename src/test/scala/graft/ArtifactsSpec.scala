package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.engine.{Artifacts, CorpusOps, DedupOps, PartitionedTables, Tables}

/** The artifact store's contract: a stored artifact is keyed by every
  * parameter and its inputs' identity, warm reads build nothing, and
  * no other persistence mechanism creeps back into the engine. */
class ArtifactsSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def bucketCount(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.catalogTable }
      .flatten.flatMap(_.bucketSpec).map(_.numBuckets)

  test("changing any parameter or the input rebuilds the artifact and returns its own rows") {
    val docs = Tables.documents(spark, sf)
    val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val orders = Tables.orders(spark, sf)
    def bucketed(n: Int) = spark.read.table(PartitionedTables.ensureBucketed(spark, sf, n)._1)
    val inlineOrders = orders.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // (case, stored read, inline derivation, expected bucket count)
    val cases: Seq[(String, () => DataFrame, () => DataFrame, Option[Int])] = Seq(
      ("sequenceManifestFor seqLen=2048",
        () => CorpusOps.sequenceManifestFor(docs, "keys", 2048),
        () => CorpusOps.sequenceManifest(docs, 2048), None),
      ("sequenceManifestFor seqLen=64",
        () => CorpusOps.sequenceManifestFor(docs, "keys", 64),
        () => CorpusOps.sequenceManifest(docs, 64), None),
      ("ensureBucketed buckets=8", () => bucketed(8), () => inlineOrders, Some(8)),
      ("ensureBucketed buckets=4", () => bucketed(4), () => inlineOrders, Some(4)),
      ("docFingerprintsFor even docs",
        () => DedupOps.docFingerprintsFor(even, "keys"),
        () => even.select(col("doc_id"), md5(col("text")).as("fp_md5")), None),
      ("docFingerprintsFor odd docs, same tag",
        () => DedupOps.docFingerprintsFor(odd, "keys"),
        () => odd.select(col("doc_id"), md5(col("text")).as("fp_md5")), None))
    assert(rows(CorpusOps.sequenceManifest(docs, 64)) != rows(CorpusOps.sequenceManifest(docs, 2048)),
      "the two seqLen values must pack differently for the case to mean anything")
    cases.foreach { case (name, stored, inline, buckets) =>
      val s = stored()
      assert(rows(s) == rows(inline()), s"$name: stored rows differ from the inline derivation")
      buckets.foreach(n => assert(bucketCount(s).contains(n), s"$name: bucket spec ${bucketCount(s)}"))
    }
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
    Artifacts.releaseAll() // what a restarted session over the same warehouse sees
    val restarted = pass()
    assert(Artifacts.builds == built, "a released session must reload every artifact, not rebuild")
    assert(restarted == cold, "rows after releaseAll must equal the cold pass")
  }

  test("persistence stays in Artifacts: no stray saveAsTable, hash-named table or release hook") {
    val files = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    }
    assert(files.exists(_.getName == "Artifacts.scala"), "scan must see the engine sources")
    val code = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        .toSeq.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/**"))
    } yield (f.getName, i + 1, t)
    def offenders(p: ((String, Int, String)) => Boolean) =
      code.filter(p).map { case (f, n, t) => s"$f:$n: $t" }
    val writers = Set("Artifacts.scala", "WriteOps.scala")
    assert(offenders { case (f, _, t) =>
      t.contains("saveAsTable(") && !writers(f) && !t.contains("saveAsTable(ptrT)") }.isEmpty,
      "saveAsTable outside Artifacts, WriteOps and the PQ serving-pointer writer")
    assert(offenders { case (_, _, t) =>
      t.contains("toHexString(") && t.contains("hashCode") && !t.contains("tmpdir") }.isEmpty,
      "a catalog-table name built from a hashCode")
    assert(offenders { case (_, _, t) => "def release\\s*\\(".r.findFirstIn(t).isDefined }.isEmpty,
      "a release hook besides Artifacts.releaseAll")
    assert(offenders { case (f, _, t) =>
      f != "StreamOps.scala" && "var \\w*[mM]emo\\b".r.findFirstIn(t).isDefined }.isEmpty,
      "an in-session memo var outside Artifacts")
  }
}
