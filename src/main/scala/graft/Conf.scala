package graft

import org.apache.spark.sql.SparkSession

/**
 * Session configuration profiles for the graft engine.
 *
 * [[local]] is what Verify/Bench/tests use (small shuffle width, UTC,
 * nanos-long parquet reads); [[objectStore]] adds the s3a settings. The
 * settings the same plans assume on a ~100 TB cluster, and the failure
 * mode behind each, are in SCALE.md ("Session config — cluster scale").
 */
object Conf {

  /** Apply the local/test profile to a builder. */
  def local(b: SparkSession.Builder, cores: Int = 4): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")

  /**
   * Object-store (s3a) profile — SCALE.md "Object-store posture" as code.
   * All lake I/O goes through the Hadoop `FileSystem` abstraction
   * (`graft.bronze.Lake`, `graft.lake.Tables`, `graft.vectors.IvfIndex`),
   * so pointing roots at `s3a://bucket/prefix` needs exactly these configs
   * and no code change. `fs.s3a.*` keys are scheme-scoped — applying the
   * profile is a no-op for `file://`/`hdfs://` paths, which is what lets
   * the BronzeSpec suite execute this exact code path in a sandbox with no
   * object store (reference behavior: `s3_loader.py` + LocalStack smoke).
   *
   * `endpoint` set = the LocalStack/MinIO smoke shape: path-style access
   * (no virtual-host buckets), SSL off, fixed test creds supplied by the
   * caller via `fs.s3a.access.key`/`secret.key`.
   */
  def objectStoreConfs(endpoint: Option[String] = None): Map[String, String] = {
    val base = Map(
      // S3 is the new disk queue: connection pool >= executor cores x a few
      "spark.hadoop.fs.s3a.connection.maximum" -> "256",
      "spark.hadoop.fs.s3a.threads.max" -> "64",
      "spark.hadoop.fs.s3a.fast.upload" -> "true",
      // align multipart blocks with scan splits
      "spark.hadoop.fs.s3a.block.size" -> "134217728",
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      // magic committer: task output streams to __magic/ keys, job commit is
      // one completed-multipart-upload per file — no O(data) rename, aborted
      // tasks leave no partial day partitions (keeps Lake.writeDay's
      // overwrite-one-partition idempotence safe on S3)
      "spark.hadoop.fs.s3a.committer.name" -> "magic",
      "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true")
    val smoke = endpoint.map(e => Map(
      "spark.hadoop.fs.s3a.endpoint" -> e,
      "spark.hadoop.fs.s3a.path.style.access" -> "true",
      "spark.hadoop.fs.s3a.connection.ssl.enabled" -> "false")).getOrElse(Map.empty)
    // Binding the committer into parquet writes needs spark-hadoop-cloud on
    // the classpath; probe so the profile degrades to the default committer
    // (correct for file://, and for s3a the magic settings above still etch
    // the intent) instead of failing every write with ClassNotFound.
    val committer = if (cloudCommitterAvailable) Map(
      "spark.sql.parquet.output.committer.class" ->
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
      "spark.sql.sources.commitProtocolClass" ->
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
    else Map.empty
    base ++ smoke ++ committer
  }

  /** True when the spark-hadoop-cloud committer binding is on the classpath. */
  def cloudCommitterAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Apply [[objectStoreConfs]] to a builder (prod/cluster entry point). */
  def objectStore(b: SparkSession.Builder,
                  endpoint: Option[String] = None): SparkSession.Builder =
    objectStoreConfs(endpoint).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Apply [[objectStoreConfs]] to an EXISTING session, session-scoped.
    * The `spark.hadoop.` prefix is stripped only at SparkContext creation;
    * for a live session the bare Hadoop keys must be set on the session
    * conf, which `sessionState.newHadoopConf()` — what every FileSystem
    * call site reads — copies verbatim. The context-wide
    * `sc.hadoopConfiguration` is untouched (other sessions unaffected). */
  def objectStoreSession(spark: SparkSession,
                         endpoint: Option[String] = None): SparkSession = {
    objectStoreConfs(endpoint).foreach { case (k, v) =>
      spark.conf.set(k.stripPrefix("spark.hadoop."), v)
    }
    spark
  }
}
