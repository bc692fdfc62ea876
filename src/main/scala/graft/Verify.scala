package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query subset (local iteration only;
    // the driver always runs the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Pin-hygiene invariant: every query must leave the cacheManager empty
    // (operators materialize via localCheckpoint, never an unreleased
    // persist) — accumulated pins otherwise inflate late-suite memory
    // pressure and make one query's timing depend on another's leftovers.
    val pinViolations = scala.collection.mutable.ArrayBuffer[String]()
    // Output-typing contract: the driver hashes pandas frames, so every
    // emitted column must be a hasher-safe scalar. Arrays crash its
    // lexsort (round-4 q85), decimals coerce representation-dependently
    // (q151), and int-vs-float drift breaks the hash — this lint keeps
    // new queries from reintroducing any of them.
    import org.apache.spark.sql.types._
    def hasherSafe(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DoubleType |
           StringType | DateType | BooleanType => true
      case _: TimestampType | _: TimestampNTZType => true
      case _ => false // arrays, maps, structs, decimals, floats, binary
    }
    val typeViolations = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.schema.fields.filterNot(f => hasherSafe(f.dataType)).foreach { f =>
          typeViolations += s"$name.${f.name}: ${f.dataType.sql}"
          System.err.println(
            s"[verify] TYPE VIOLATION: $name emits ${f.name} ${f.dataType.sql}")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (!spark.sharedState.cacheManager.isEmpty) {
          pinViolations += name
          System.err.println(s"[verify] PIN VIOLATION: $name left cached frames")
          spark.catalog.clearCache()
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        spark.catalog.clearCache()
      }
    }
    System.err.println(s"[verify] pin-hygiene violations: ${pinViolations.size}" +
      (if (pinViolations.nonEmpty) pinViolations.mkString(" (", ", ", ")") else ""))
    System.err.println(s"[verify] output-type violations: ${typeViolations.size}" +
      (if (typeViolations.nonEmpty) typeViolations.mkString(" (", ", ", ")") else ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
