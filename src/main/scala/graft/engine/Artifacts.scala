package graft.engine

import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{ExprId, NamedLambdaVariable, ScalaUDF, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one store for derived artifacts — every persisted pure function
  * of its inputs (sketch and pair tables, posting lists, stage keep
  * lists, fitted index tables, policy reports) goes through here, the
  * way the reference's ETL writes each `total_award_amount_by_*`
  * aggregate once and its app only reads it
  * (reference: app/ml_app.py:99-139).
  *
  * [[table]] names the catalog table by a SHA-256 digest of the
  * family, every parameter, and each input's identity: its canonical
  * plan plus the (path, length, mtime) of every file it reads,
  * computed on the driver with no Spark job. The same call over
  * different data, or with any parameter changed, therefore lands on a
  * different table; the same call again in the same process lands on
  * the same one. The store lasts for one process: `GraftSession.build`
  * gives each process its own warehouse and the catalog lives in
  * memory, so a new process builds every table again. A table built
  * over another stored table is keyed by that table's file paths,
  * which are per process. An input whose identity
  * cannot be computed stably (a plan over an in-memory RDD — a
  * `localCheckpoint` or `createDataFrame(rdd)` — or an unnamed UDF)
  * gets a one-off name, so it always rebuilds and is never served
  * stale. `Dataset.semanticHash` is not used: it hashes some plan
  * nodes (file indexes, file formats) by object identity and ExprIds
  * by the JVM's random id.
  *
  * [[memo]] holds the few in-session values that are not plain
  * frames (fitted models, the persisted ML feature frame, decisions
  * with side effects); [[releaseAll]] drops them all. Catalog tables
  * outlive the release, so the same process reloads every table
  * artifact after it with zero builds.
  */
object Artifacts {

  /** A stored table's physical layout, kept in its catalog entry. */
  sealed trait Layout

  /** Bucketed and sorted — for artifacts whose readers join or probe
    * on `by` (the IVF lists, the bucketed fact tables). */
  final case class Buckets(n: Int, by: String, sortBy: String) extends Layout

  /** Partitioned by one column — for facts whose readers filter or
    * join on it, so the scan prunes directories (the month-partitioned
    * orders). */
  final case class PartitionedBy(column: String) extends Layout

  private val builtBy = mutable.Map.empty[String, Int]
  private val memos = mutable.Map.empty[Any, Any]
  private val oneOff = new AtomicLong

  /** Table artifacts built in this JVM, across all families. */
  def builds: Int = synchronized(builtBy.values.sum)

  /** Table artifacts of one family built in this JVM. */
  def builds(family: String): Int = synchronized(builtBy.getOrElse(family, 0))

  /** The artifact read back from its catalog table, built first if
    * absent. `build` runs at most once per name, under the store's
    * lock. */
  def table(family: String, params: Seq[Any], inputs: Seq[DataFrame],
            layout: Option[Layout] = None)(build: => DataFrame): DataFrame =
    inputs.head.sparkSession.read.table(ensure(family, params, inputs, layout)(build))

  /** [[table]] returning the catalog table name instead of the frame. */
  def ensure(family: String, params: Seq[Any], inputs: Seq[DataFrame],
             layout: Option[Layout] = None)(build: => DataFrame): String = {
    val spark = inputs.head.sparkSession
    val name = nameFor(family, params, inputs)
    if (!spark.catalog.tableExists(name)) synchronized {
      if (!spark.catalog.tableExists(name)) {
        val w = build.write.mode("overwrite")
        (layout match {
          case Some(Buckets(n, by, sortBy)) => w.bucketBy(n, by).sortBy(sortBy)
          case Some(PartitionedBy(c)) => w.partitionBy(c)
          case None => w
        }).saveAsTable(name)
        builtBy(family) = builtBy.getOrElse(family, 0) + 1
      }
    }
    name
  }

  /** The catalog name of an artifact: `family_<digest>`, or a one-off
    * name when some input has no stable identity. Also the memo key
    * for in-session values derived from the same inputs. */
  def nameFor(family: String, params: Seq[Any], inputs: Seq[DataFrame]): String = {
    val ids = inputs.map(identity)
    if (ids.exists(_.isEmpty)) s"${family}_once${oneOff.incrementAndGet()}"
    else {
      val md = MessageDigest.getInstance("SHA-256")
      (family +: params.map(String.valueOf) ++: ids.flatten).foreach { s =>
        md.update(s"${s.length}:$s".getBytes("UTF-8"))
      }
      s"${family}_${md.digest().take(16).map(b => f"$b%02x").mkString}"
    }
  }

  /** An input's identity: the canonical analyzed plan (ExprIds and
    * lambda variables renumbered) plus every scanned file's path,
    * length and mtime, and the rows of any local relation; None when
    * the plan reads something with no stable identity. */
  private def identity(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.analyzed
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l }
    val sources = leaves.map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => Some(h.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted.mkString(","))
        case _ => None
      }
      case l: LocalRelation =>
        val proj = UnsafeProjection.create(l.schema)
        val md = MessageDigest.getInstance("SHA-256")
        l.data.foreach(r => md.update(proj(r).getBytes))
        Some(md.digest().map(b => f"$b%02x").mkString)
      case _: Range | _: OneRowRelation => Some("")
      case _ => None
    }
    val opaqueUdf = plan.collectWithSubqueries {
      case p => p.expressions.exists(_.exists {
        case u: ScalaUDF => u.udfName.isEmpty
        case _ => false
      })
    }.contains(true)
    if (opaqueUdf || sources.exists(_.isEmpty)) None
    else Some((canonicalText(plan) +: df.schema.json +: sources.flatten).mkString("\n"))
  }

  private def canonicalText(plan: LogicalPlan): String = {
    val ids = mutable.Map.empty[Long, Long]
    val canon = plan.canonicalized.transformAllExpressions {
      case v: NamedLambdaVariable =>
        v.copy(exprId = ExprId(ids.getOrElseUpdate(v.exprId.id, ids.size.toLong)))
    }
    (canon.treeString(verbose = true, addSuffix = false, maxFields = Int.MaxValue) +:
      canon.flatMap(_.subqueries).map(canonicalText)).mkString("\n")
  }

  /** An in-session value, computed once per key until [[releaseAll]]. */
  def memo[T](key: Any)(value: => T): T = synchronized {
    memos.getOrElseUpdate(key, value).asInstanceOf[T]
  }

  /** Drop every in-session value (persisted frames are unpersisted);
    * the catalog tables stay for the rest of the process. */
  def releaseAll(): Unit = synchronized {
    memos.values.foreach {
      case d: Dataset[_] => d.unpersist()
      case _ =>
    }
    memos.clear()
  }
}
