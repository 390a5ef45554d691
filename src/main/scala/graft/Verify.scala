package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // CLEAN-/tmp sweep BEFORE anything runs (VERDICT r11 #2): delete
    // every graft_*_oracle dump so a stale artifact from an earlier
    // local run can never mask a missing registration — if a selected
    // query's oracle reads a dump, the dump it reads was written by
    // THIS invocation or the oracle fails loudly.
    java.nio.file.Files.list(java.nio.file.Paths.get("/tmp")).iterator()
      .forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("graft_") && n.endsWith("_oracle")) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    // Dev-loop filter: SPARK_GRAFT_ONLY=q50,q67 runs just the named
    // queries (prefix match). Unset → full run (the driver's mode).
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val selectedSpecs = graft.queries.Catalog.specs.filter(sp =>
      only.forall(_.exists(sp.name.startsWith)))
    val selected = selectedSpecs.map(sp => sp.name -> sp.run)
    selected.foreach { case (name, fn) =>
      def attempt(): Unit =
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      // one logged retry: a transient local-fs hiccup must not zero a
      // correctness row for the whole round (observed once in ~15
      // runs); a real failure still fails — twice, loudly
      try attempt()
      catch {
        case e1: Throwable =>
          System.err.println(s"[verify] $name failed once (${e1.getMessage}); retrying")
          try attempt()
          catch { case e2: Throwable =>
            System.err.println(s"[verify] $name failed: ${e2.getMessage}")
          }
      }
    }
    // Oracle side-artifact dumps, DERIVED from QuerySpec registration
    // (VERDICT r11 #1/#2 — the q255 class of miss is now structural):
    // some oracles replay fitted index state (IVF assignments/centroids,
    // PQ codebooks) from stable /tmp parquet the oracle SQL embeds — the
    // tmp warehouse holding the catalog tables dies with this JVM, the
    // dump must not. Execute the union of selected queries' registered
    // dumps, deduped by path (each is memoized upstream ⇒ zero extra
    // quantizer fits after the queries ran).
    selectedSpecs.flatMap(_.dumps).groupBy(_.path).values.map(_.head)
      .toSeq.sortBy(_.path).foreach { d =>
        try d.run(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] dump ${d.path} failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dump manifest for tools/selfcheck.py's registration lint: every
    // query → the /tmp artifact paths it registered. An oracle SQL
    // reading a /tmp path absent from its own manifest row fails the
    // lint — the artifact would only exist by luck of co-selection.
    val dumpsJson = selectedSpecs
      .map(sp => s"${q(sp.name)}: ${sp.dumps.map(d => q(d.path)).mkString("[", ",", "]")}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/dumps.json"), dumpsJson)
    graft.engine.Artifacts.releaseAll()
    spark.stop()
  }
}
