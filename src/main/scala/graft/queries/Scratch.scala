package graft.queries

import org.apache.spark.sql.SparkSession

/** Fixed per-name scratch dirs under java.io.tmpdir for queries that write
  * and re-read files. A rerun reuses one tree instead of accumulating temp
  * dirs, and starts from nothing: no checkpoint offsets, state, sink
  * output or table files of an earlier run survive into the next. */
private[queries] object Scratch {

  /** `java.io.tmpdir/name`, wiped. */
  def fresh(s: SparkSession, name: String): String = {
    val dir = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), name).toString
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }
}
