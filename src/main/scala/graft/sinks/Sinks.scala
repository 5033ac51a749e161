package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sinks + IO config mirroring the reference's parquet/JSON/S3 surface. */
object Sinks {

  /** S17/S18: parquet sink (reference `write_parquet`,
    * `src/utils/datasets.rs:112-114`; the manual `AsyncArrowWriter` path
    * `dataframe.rs:693-705` collapses into the same call — the reference's
    * own doc says "better use write_parquet"). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-style partitioned parquet layout: the 100 TB default. Queries
    * filtering on the partition columns scan only matching directories
    * (partition pruning — `PartitionFilters` in `.explain`), and
    * partition columns cost zero storage in the files themselves. Choose
    * low-cardinality columns (date, category); high-cardinality partition
    * keys produce millions of tiny files. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Clustered write: sort within partitions by the given columns before
    * writing, so parquet row-group min/max statistics become selective and
    * point/range filters skip whole row groups at scan time. Pair with
    * `writePartitioned` (partition prune first, then row-group skip), and
    * with a `repartitionByRange` on the sort key upstream when file-level
    * disjointness matters too (each output file then covers a distinct key
    * range, so a selective scan opens few footers and reads fewer groups).
    * `options` passes writer options through — e.g. `parquet.block.size`
    * to control row-group granularity (smaller groups = finer skipping at
    * more footer overhead; LayoutRigSpec measures the trade). */
  def writeClustered(df: DataFrame, path: String,
                     sortCols: Seq[String],
                     options: Map[String, String] = Map.empty): Unit =
    df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").options(options).parquet(path)

  /** S19: whole-frame → JSON array bytes (reference `df_to_json_bytes`,
    * `src/utils/dataframe.rs:813-823`). Driver-side action by design; null
    * fields are omitted, matching the reference's arrow-json writer. */
  def toJsonBytes(df: DataFrame): Array[Byte] =
    df.toJSON.collect().mkString("[", ",", "]").getBytes("UTF-8")

  /** JSONL (one JSON object per line) sink — the interchange format
    * web-scraped training corpora actually arrive and ship in. Spark's
    * JSON writer IS line-delimited, so this is the distributed,
    * splittable complement of [[toJsonBytes]] (which builds one driver-
    * side array blob, the reference's shape): every executor writes its
    * partition as independent lines, and a downstream scan can split
    * the files at line boundaries. Null fields are omitted, matching
    * [[toJsonBytes]] and the reference's arrow-json writer. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S21-S29: the reference's hand-rolled S3 machinery (ranged parallel
    * gets, semaphore-capped multipart uploads, `aws.rs:57-468`) maps to
    * S3A connector configuration — Spark/Hadoop already do chunked
    * parallel multipart IO per executor. Constants mirror
    * `src/utils/constants.rs:1-3`. Config-only: no network IO here.
    */
  object S3 {
    val MaxRetries = 10        // AWS_MAX_RETRIES
    val ChunkSizeBytes: Long = 10L * 1024 * 1024 // CHUNK_SIZE (10 MiB)
    val Workers = 10           // CHUNKS_WORKERS

    /** Apply S3A settings equivalent to the reference's constants; creds
      * come from the standard provider chain (env/instance profile), like
      * the reference's `from_env` builder (`aws.rs:25-53`). */
    def configure(spark: SparkSession, region: Option[String] = None): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      conf.set("fs.s3a.attempts.maximum", MaxRetries.toString)
      conf.set("fs.s3a.multipart.size", ChunkSizeBytes.toString)
      conf.set("fs.s3a.max.total.tasks", Workers.toString)
      conf.set("fs.s3a.fast.upload", "true")
      region.foreach(conf.set("fs.s3a.endpoint.region", _))
    }

    /** S21: `read_from_s3` analogue. */
    def readParquet(spark: SparkSession, bucket: String, key: String): DataFrame =
      spark.read.parquet(s"s3a://$bucket/$key")

    /** S22/S27/S28: `write_to_s3` analogue — S3A does multipart natively. */
    def writeParquet(df: DataFrame, bucket: String, key: String): Unit =
      df.write.mode("overwrite").parquet(s"s3a://$bucket/$key")
  }
}
