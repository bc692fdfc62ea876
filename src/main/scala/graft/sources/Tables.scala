package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Source registry over the driver's parquet star schema
  * (/root/repo/TESTDATA.md). Mirrors the reference's source() lookup
  * (reference models/staging/schema.yml:3-100 resolves (schema, table) →
  * physical table); here (sfDir, name) → parquet path.
  *
  * Scale note: `spark.read.parquet` exposes parquet footers to Catalyst so
  * filter pushdown / column pruning / partition pruning all apply. On a real
  * 100 TB deployment the same call points at a date-partitioned directory
  * tree and nothing else changes.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache, keyed (path, file length, modification time): what a
    * metastore gives a real deployment for free. Without it every
    * `spark.read.parquet` call re-runs schema inference — a one-task Spark
    * job (~100 ms measured at sf0.1) — paid again for every table
    * reference. Caches METADATA only (a StructType); every query still
    * scans the parquet for its data, so results are never memoized. The
    * path is the caller's spelling, so mixed-SF sessions (Verify runs
    * three SFs) cannot cross-contaminate; length and modification time
    * come from the `FileStatus` the footer read fetches anyway, so a
    * rewritten table is re-read instead of served a stale schema. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  /** Spark's inferred schema of one parquet path, without a Spark job:
    * a single file's footer is read on the driver and converted with the
    * session's `ParquetToSparkSchemaConverter` (the same per-footer step
    * Spark's inference runs inside its job); a directory dataset keeps
    * `spark.read.parquet(..).schema`, which also merges partition
    * columns. Nullable like every file-source relation's data schema. */
  def inferSchema(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val status = p.getFileSystem(hadoopConf).getFileStatus(p)
    schemaCache.computeIfAbsent((path, status.getLen, status.getModificationTime), { _ =>
      if (status.isDirectory) spark.read.parquet(path).schema
      else {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(status, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        GraftSqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
          new Footer(status.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      }
    })
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // ts normalization: the driver's generator has shipped events.ts as both
    // parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects —
    // read as epoch-nanos long via the legacy conf and rebuild with integer
    // `div`; a double division would lose precision on ~1e18 nanos) and as
    // µs TIMESTAMP_NTZ (isAdjustedToUTC=false, which Spark ≥3.4 infers as
    // TIMESTAMP_NTZ). Both are normalized to TimestampType here: every
    // operator and its oracle were verified against TimestampType with a
    // UTC session (Verify/Bench/tests all pin spark.sql.session.timeZone=
    // UTC), so the NTZ→TZ cast is value-identity and watermarks /
    // session_window / unix_micros keep working regardless of which
    // physical type the generator emitted.
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = inferSchema(spark, s"$sfDir/$name.parquet")
    val df = spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType =>
        acc.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case (acc, f) if f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.TimestampType))
      case (acc, _) => acc
    }
  }

  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
