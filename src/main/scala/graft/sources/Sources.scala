package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface — the Spark rendition of the reference's
  * `MRInput`/`MROutput` family (SURVEY.md §2a):
  *
  *  - `MRInput` over any Hadoop InputFormat (text / sequence / columnar)
  *    → `spark.read.{text,csv,json,parquet,orc}`: split planning,
  *    grouping and locality (TezSplitGrouper.java:72-85) are Spark's
  *    `FilePartition` packing, sized by
  *    `spark.sql.files.maxPartitionBytes` — at 100 TB that is the knob
  *    that replaces Tez's 50 MB–1 GB grouped splits and 1.7 waves.
  *  - `MROutput` + commit protocol (MROutputCommitter, DAG-success
  *    commit — MR/committer/MROutputCommitter.java) → `df.write` through
  *    `SQLHadoopMapReduceCommitProtocol`, task/job commit built in.
  *  - `MultiMROutput` (write by base path, KeyValueWriterWithBasePath)
  *    → `df.write.partitionBy(cols)`: one directory per key value,
  *    partition pruning on read for free.
  */
object Sources {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** MultiMROutput analog: one output directory per value of `col`. */
  def writePartitionedBy(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** Stages a file-stream feed: `df` split by `chunk` (values 0 until
    * `n`) in ONE partitioned write under `stage` (r13: this was one
    * coalesce(1) job per chunk; partitionBy drops the chunk column from
    * the file bytes), then each chunk's file moved, in chunk order, to
    * `<watch>/<prefix>_<i>.parquet`. A chunk with no rows writes no
    * directory and is skipped, so a small corpus stages fewer files
    * instead of failing. Returns the staged schema for the reader. */
  def stageChunks(spark: SparkSession, df: DataFrame, chunk: Column, n: Int,
      stage: String, watch: String, prefix: String): StructType = {
    import org.apache.hadoop.fs.Path
    df.withColumn("__chunk", chunk)
      .repartition(org.apache.spark.sql.functions.col("__chunk"))
      .write.mode(SaveMode.Overwrite).partitionBy("__chunk").parquet(stage)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(watch))
    val staged = (0 until n).flatMap { i =>
      val d = new Path(s"$stage/__chunk=$i")
      if (!fs.exists(d)) None
      else fs.listStatus(d).map(_.getPath).find(_.getName.endsWith(".parquet"))
        .map(part => fs.rename(part, new Path(watch, s"${prefix}_$i.parquet")))
    }
    if (staged.isEmpty) df.schema else spark.read.parquet(watch).schema
  }
}
