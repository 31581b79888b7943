package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Operator input readers. Every table read here feeds work that
 * multiplies per input row (shingle/trigram explodes, 64-dim vector
 * math against broadcast tables, window banding), so a scan with fewer
 * splits than cores would run that whole pipeline on a handful of
 * threads — exactly what happens on the small test files, which are
 * single-row-group parquet (1 split). [[spread]] rebalances the COMPACT
 * rows (a shuffle that is noise next to the exploded stream) only when
 * the scan is split-starved; a real corpus arrives with splits >> cores
 * and passes through untouched, so nothing here adds a shuffle at scale.
 * Measured: langid-model warm time fell 6.3 s → 1.4 s at sf0.1/local[32]
 * from this alone.
 *
 * The verdict pipeline (pipeline/, sources/Transcripts) deliberately
 * does NOT use this: its zero-exchange plan is a PlanSpec-asserted
 * property and its per-row work is one fused expression pass.
 */
object Inputs {

  def spread(df: DataFrame): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  // probing split count costs a plan analysis (df.rdd); operators read
  // the same path many times per query, so memoize — keyed by the
  // directory's (mtime, newest-file mtime, file count) fingerprint so a
  // dataset REWRITTEN at the same path in-session (regenerated test
  // data, growing corpus) invalidates the entry instead of silently
  // reusing a stale split count. The fingerprint goes through the
  // Hadoop FileSystem so `file:`, `hdfs:` and `s3a:` URIs resolve too.
  private val splitCounts =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long, Int), Int]

  private def pathKey(spark: SparkSession, path: String): (String, Long, Long, Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val kids = if (st.isDirectory) fs.listStatus(p) else Array.empty[FileStatus]
    (path, st.getModificationTime,
      if (kids.isEmpty) st.getLen else kids.map(_.getModificationTime).max, kids.length)
  }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val n = splitCounts.getOrElseUpdate(pathKey(spark, path), df.rdd.getNumPartitions)
    val dp = spark.sparkContext.defaultParallelism
    if (n < dp) df.repartition(dp) else df
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    read(spark, s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    read(spark, s"$dir/embeddings.parquet")

  def events(spark: SparkSession, dir: String): DataFrame =
    read(spark, s"$dir/events.parquet")
}
