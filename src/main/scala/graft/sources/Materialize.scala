package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Materialization sinks — the reference's sink surface
  * (reference dbt_project.yml:16-39: view / table / incremental)
  * plus the custom schema-name resolution
  * (reference macros/generate_schema_name.sql:1-10: a declared custom
  * schema is used VERBATIM, not prefixed).
  *
  * On a cluster the `table` sink writes partitioned parquet (callers
  * pass partition columns for date-partitioned marts); `view` registers
  * a session view (no data movement); incremental-merge lives in
  * operators.IncrementalMerge. DAG nodes with multiple consumers are not
  * a sink: graft.plans.Pipeline materializes them with `cutLineage()`
  * (graft.plans.CheckpointPolicy), which pins nothing in the cacheManager.
  */
object Materialize {

  /** (schema, table) → session-catalog view name. Mirrors the reference
    * macro: custom schema verbatim, joined with a double underscore
    * (temp views have no namespaces). */
  def resolveName(schema: String, table: String): String =
    s"${schema.toLowerCase}__${table.toLowerCase}"

  /** View sink: register under the resolved (schema, table) name. */
  def view(df: DataFrame, schema: String, table: String): String = {
    val name = resolveName(schema, table)
    df.createOrReplaceTempView(name)
    name
  }

  /** Table sink: parquet under outDir/<schema>/<table>, optionally
    * partitioned (the 100 TB path: partition by date, let readers prune). */
  def table(df: DataFrame, outDir: String, schema: String, table: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$outDir/$schema/$table")
  }

  /** Bucketed table sink: hash-bucket (and sort) by the join/agg key so
    * co-located reads need NO exchange — the pre-shuffled layout the
    * big-big joins in SCALE.md rely on at 100 TB. Bucketing requires the
    * session catalog (`saveAsTable`); `path` makes it an external table
    * so data lands under the caller's directory, not the warehouse.
    * Readers via `spark.table(name)` get the bucket spec; a join of two
    * tables bucketed the same way on the same key plans as a sort-merge
    * join with zero Exchange on either side (pinned by BucketingSpec). */
  def bucketedTable(df: DataFrame, path: String, name: String,
      bucketCol: String, numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(name)
}
