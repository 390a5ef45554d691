package graft.engine

import org.apache.spark.sql.DataFrame

/** Materialized-view rebuild writes (SURVEY §2.1 S2) — the reference's
  * keyed aggregate-table maintenance (reference:
  * app/spark_cassandra_groupby.py:74-82 writes each rollup into its
  * own Cassandra table with mode("append")), re-expressed the
  * Spark-native way: Overwrite + partitionBy parquet, so the rebuilt
  * view is atomic-per-run and partition-pruned on its lead key when
  * served. At 100 TB the same call writes through a catalog table
  * (`saveAsTable`) with dynamic partition overwrite; locally it is a
  * path write.
  */
object WriteOps {

  /** Rebuild a materialized aggregate at `path`, partitioned by its
    * serving keys, and hand back the re-read view (partition-
    * discovering reader — proves the landed layout round-trips). */
  def rebuild(df: DataFrame, path: String, partitionKeys: Seq[String]): DataFrame = {
    val writer = df.write.mode("overwrite")
    (if (partitionKeys.nonEmpty) writer.partitionBy(partitionKeys: _*) else writer)
      .parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Data-file bytes under `path`, resolved through the Hadoop
    * FileSystem of the path's scheme — a `file:` URI, a plain local
    * path and an object-store/HDFS path all size correctly (a raw
    * java.io.File walk silently returned 0 for anything but plain
    * local paths). Metadata files (`_SUCCESS`, dotfiles) are excluded
    * — only data bytes should size the target file count. */
  private def walkBytes(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).map { st =>
      if (st.isDirectory) walkBytes(fs, st.getPath)
      else if (st.getPath.getName.startsWith("_") ||
               st.getPath.getName.startsWith(".")) 0L
      else st.getLen
    }.sum

  private def fsFor(spark: org.apache.spark.sql.SparkSession,
                    path: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Run `body` with partition-column type inference OFF: the
    * compaction re-read must round-trip partition VALUES verbatim —
    * with inference on, a numeric-looking string partition value
    * (e.g. "00123") would come back as an int and be rewritten to a
    * different directory name. The session conf is restored
    * afterwards, so queries outside the maintenance pass keep the
    * default reader behavior. */
  private def withRawPartitionValues[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Small-file compaction — the maintenance pass every append-heavy
    * sink needs (the streaming/batched ingest paths land one file per
    * flush/micro-batch; a year of that is millions of KB-files whose
    * open/footer cost dominates scans). Rewrites the layout into
    * ⌈bytes/target⌉ files at `path + "_compacted"` and returns that
    * path; the caller swaps directories atomically at its own commit
    * point. Data is proven byte-equal by IngestWriteSpec. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): String = {
    val (fs, p) = fsFor(spark, path)
    val totalBytes = walkBytes(fs, p)
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val out = path + "_compacted"
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(out)
    out
  }

  /** [[compact]] for a PARTITIONED layout, swapped in place: rewrites
    * the layout so each partition directory holds a single file (every
    * key hashes to exactly one of the ⌈bytes/target⌉ write tasks), then
    * replaces `path` with the compacted copy. The swap never leaves a
    * moment with no data at `path` recoverable only from scratch dirs:
    * the live layout is renamed ASIDE first, the compacted copy
    * renamed in, and only then is the old copy deleted — a crash at
    * any step leaves either the live layout or the old copy in place,
    * and every failure message names the directory that still holds
    * the data. All filesystem ops go through the path's Hadoop
    * FileSystem, so `file:` URIs and cluster filesystems behave the
    * same as plain local paths. At cluster scale the same rewrite
    * lands next to the live layout and the catalog's table location is
    * swapped atomically. Partitions individually larger than
    * `targetFileBytes` would need an intra-key split (salt or
    * `maxRecordsPerFile`) — not the ingest-sink shape this serves,
    * where the problem is many SMALL files per key. */
  def compactPartitionedInPlace(spark: org.apache.spark.sql.SparkSession, path: String,
                                partitionKeys: Seq[String],
                                targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    import org.apache.spark.sql.functions.col
    val (fs, live) = fsFor(spark, path)
    val nFiles = math.max(1,
      math.ceil(walkBytes(fs, live).toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compacting")
    withRawPartitionValues(spark) {
      spark.read.parquet(path)
        .repartition(nFiles, partitionKeys.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionKeys: _*).parquet(tmp.toString)
    }
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    if (fs.exists(old)) fs.delete(old, true) // leftover from an earlier crash
    if (!fs.rename(live, old))
      throw new java.io.IOException(
        s"compaction swap: could not move live layout aside ($live -> $old); " +
        s"live data untouched at $live, compacted copy at $tmp")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // restore; keep tmp for inspection
      throw new java.io.IOException(
        s"compaction swap: could not move compacted copy into place; " +
        s"live layout restored at $live, compacted copy left at $tmp")
    }
    fs.delete(old, true)
    ()
  }

  /** INCREMENTAL keyed refresh: overwrite ONLY the partitions present
    * in `slice`, leaving every other partition's files untouched — the
    * parquet analogue of the reference's per-key upsert into a keyed
    * aggregate table (reference: app/spark_cassandra_groupby.py:74-82,
    * mode("append") into a Cassandra table whose primary key makes the
    * append an upsert). Spark-native form: `partitionOverwriteMode=
    * dynamic` scopes mode("overwrite") to the partitions the incoming
    * frame actually contains. At 100 TB a one-key refresh rewrites one
    * directory, not the view (untouched partition files are asserted
    * byte-identical in IngestWriteSpec). The session-level conf is set
    * per-write via the DataFrameWriter option, so concurrent full
    * rebuilds keep their whole-view overwrite semantics. Returns
    * nothing: a re-read here would run a schema-inference job per
    * call (per micro-batch in [[IngestOps.runMvMaintain]]) that no
    * caller uses. */
  def refreshPartitions(slice: DataFrame, path: String, partitionKeys: Seq[String]): Unit = {
    require(partitionKeys.nonEmpty, "incremental refresh needs partition keys")
    slice.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionKeys: _*)
      .parquet(path)
  }

  /** Columnar-format interop: land a slice as ORC (Spark's second
    * built-in columnar format), read it back through the vectorized
    * ORC reader, and emit it for the PARQUET-sourced oracle to
    * hash-match — schema and values (doubles especially) must survive
    * the cross-format round trip bit-for-bit. At 100 TB the storage
    * format is a sink-layer decision; every operator above reads
    * whatever `Tables` hands it, and this query pins that the engine
    * is not silently parquet-only. */
  def orcRoundTrip(orders: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    orders.filter(col("o_orderkey") <= 6000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").orc(path)
    orders.sparkSession.read.orc(path).orderBy(col("o_orderkey"))
  }

  /** CSV round-trip — the text-format interchange path (exports to
    * spreadsheets/legacy loaders and back): write with header, read
    * back with an EXPLICIT schema (never inference — at 100 TB schema
    * inference is a full extra pass and a type-drift hazard; the
    * explicit schema also keeps the read a single pruned scan).
    * Doubles survive because Spark writes round-trip-precise digits.
    * Same slice/shape as the q112 ORC path so the one oracle text
    * certifies every format's fidelity. */
  def csvRoundTrip(orders: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    orders.filter(col("o_orderkey") <= 6000)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(path)
    orders.sparkSession.read
      .option("header", "true")
      .schema("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
      .csv(path)
      .orderBy(col("o_orderkey"))
  }

  /** 16-bit Morton (Z-order) interleave of two integer columns as an
    * unrolled arithmetic expression — `>>`, `&`, `*`, `+` only, so
    * the SAME string evaluates identically in Spark SQL and DuckDB
    * (the oracle replays this text verbatim). */
  def mortonSqlExpr(a: String, b: String): String =
    (0 until 16).map { i =>
      s"(((($a) >> $i) & 1) * ${1L << (2 * i)} + ((($b) >> $i) & 1) * ${1L << (2 * i + 1)})"
    }.mkString(" + ")

  /** Z-order layout report — the data-skipping layout decision a
    * lakehouse table makes when TWO columns both carry selective
    * filters: rows sort by the Morton interleave of (l_partkey,
    * l_suppkey) and files are equal-width Z-RANGES (zval div
    * 2^(32−fileBits) — no global sort needed for the report; the
    * write path would repartitionByRange on zval). Each output row is
    * one file's zone map: row count plus min/max of BOTH dims — the
    * rectangle a scan with predicates on either (or both) columns
    * prunes against. The rect_area column makes the clustering
    * quality auditable: z-range files cover small rectangles in the
    * (part, supp) plane, where a single-column sort would stripe the
    * full height of the other dimension.
    *
    * Scale: one stateless projection + one file-count-sized rollup;
    * the interleave is pure integer arithmetic (codegen-friendly,
    * oracle-identical). */
  def zorderLayout(lineitem: DataFrame, nFiles: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions._
    // equal-width z-ranges over the OBSERVED z interval (an absolute
    // 2^32-wide split would put any small-key-domain table in one
    // file); the bounds are a 1-row broadcast, the assignment pure
    // integer arithmetic
    val zed = lineitem
      .select(col("l_partkey"), col("l_suppkey"),
        expr(mortonSqlExpr("l_partkey", "l_suppkey")).as("zval"))
      .localCheckpoint(false) // bounds scan + bucket assignment
    val bounds = zed.agg(min(col("zval")).as("zlo"), max(col("zval")).as("zhi"))
    zed.crossJoin(broadcast(bounds))
      .withColumn("file_id", expr(s"((zval - zlo) * $nFiles) DIV (zhi - zlo + 1)"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
           min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
           min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .withColumn("rect_area",
        ((col("max_part") - col("min_part") + 1) *
         (col("max_supp") - col("min_supp") + 1)).cast("long"))
      .orderBy(col("file_id"))
  }

  /** Lossless MV rollup chain — aggregates OF aggregates: the monthly
    * report is computed from the stored DAILY partials (count + exact
    * DECIMAL sum), never from raw events — the reference's
    * materialized-aggregate architecture (serving reads rollup
    * tables, reference: app/ml_app.py:99-139) extended one level up
    * the time hierarchy. COUNT and DECIMAL SUM are the composable
    * partials (decimal addition is associative and exact — a DOUBLE
    * partial would NOT compose losslessly), so the oracle computes
    * the monthly rollup DIRECTLY from raw events and hash-equality
    * proves the chain loses nothing. At 100 TB this is the shape
    * that makes every coarser granularity a partial-sized job: day →
    * month → quarter reads partials, raw is scanned exactly once. */
  def rollupChain(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val daily = events
      .select(col("event_type"), col("ts").cast("date").as("d"),
        col("value").cast("decimal(18,4)").as("v"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    daily
      .groupBy(col("event_type"),
        date_trunc("month", col("d")).cast("date").as("month"))
      .agg(sum(col("n")).cast("long").as("n_events"),
           sum(col("sv")).cast("double").as("total_value"))
      .orderBy(col("event_type"), col("month"))
  }

  /** Clustering-depth audit — "is this table worth re-sorting?": per
    * file, how many OTHER files' [min, max] ranges of the candidate
    * sort column overlap it. A date-clustered table has depth ~2 at
    * file boundaries (a range scan opens only the files it must); an
    * insertion-ordered table that ingests out of order approaches
    * depth = n_files (every range scan opens everything) — exactly
    * the situation [[zorderLayout]] / a sort rewrite fixes, and this
    * report is the evidence that triggers it. Files stand in as
    * deterministic o_orderkey spans (real lakehouses read their file
    * statistics manifest directly). Scale: everything past the one
    * rollup is MANIFEST-sized (O(files), not rows); the interval
    * self-join is files², fine for any real file count — the sweep-
    * line alternative (sort boundaries, running open-file counter)
    * drops it to O(files log files) if ever needed. */
  def clusteringDepthReport(orders: DataFrame, rowsPerFile: Long = 2000): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = orders
      .select(expr(s"o_orderkey DIV $rowsPerFile").as("file_id"), col("o_orderdate"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
           min(col("o_orderdate")).as("d_lo"), max(col("o_orderdate")).as("d_hi"))
      .localCheckpoint(false) // both sides of the interval self-join
    val nf = m.agg(count(lit(1)).as("n_files"))
    val other = m.select(col("file_id").as("file_b"),
      col("d_lo").as("b_lo"), col("d_hi").as("b_hi"))
    m.join(broadcast(other),
        col("d_lo") <= col("b_hi") && col("b_lo") <= col("d_hi") &&
          col("file_id") =!= col("file_b"), "left_outer")
      .groupBy(col("file_id"), col("n_rows"), col("d_lo"), col("d_hi"))
      .agg(sum(when(col("file_b").isNotNull, 1L).otherwise(0L)).as("overlap_files"))
      .crossJoin(broadcast(nf))
      .withColumn("overlap_frac", (col("overlap_files").cast("double") /
        greatest(col("n_files") - 1, lit(1L))))
      .select(col("file_id"), col("n_rows"), col("d_lo"), col("d_hi"),
        col("overlap_files"), col("n_files").cast("long").as("n_files"),
        col("overlap_frac"))
      .orderBy(col("file_id"))
  }
}
