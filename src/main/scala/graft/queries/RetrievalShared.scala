package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{Artifacts, RetrievalOps, Tables}

/** Persisted BM25 inverted index (q145) — the [[SketchShared]]
  * contract applied to retrieval: the postings table (w, doc_id, tf)
  * and the doc-length table (doc_id, dl) are built ONCE per corpus as
  * catalog tables and every retrieval probe reads them; the text
  * corpus is never re-tokenized at query time. This is the serving
  * posture the reference uses everywhere — requests read materialized
  * aggregates, never the fact table
  * (reference: app/ml_app.py:99-139).
  *
  * The postings table is stored clustered by term
  * (repartition(w) + sortWithinPartitions(w)): a probe's literal
  * `isin` prune pushes to the parquet scan and row-group min/max
  * stats on w skip the non-query vocabulary — at 100 TB a probe
  * touches the query terms' row groups, not the index.
  *
  * Both are [[graft.engine.Artifacts]] tables keyed by the documents
  * table's identity: a restarted serving job over the same warehouse
  * reloads them with zero text passes.
  */
object RetrievalShared {

  /** The (w, doc_id, tf) inverted index — one tokenize pass per
    * corpus, ever. */
  def postings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Artifacts.table("bm25_postings", Nil, Seq(docs))(
      RetrievalOps.bm25Postings(docs).repartition(col("w")).sortWithinPartitions(col("w")))
  }

  /** The (doc_id, dl) doc-length table; N and avgdl aggregate from
    * it in one 2-column pass. */
  def docLengths(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Artifacts.table("bm25_doclen", Nil, Seq(docs))(RetrievalOps.bm25DocLengths(docs))
  }
}
