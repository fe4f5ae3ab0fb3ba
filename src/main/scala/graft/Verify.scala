package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names restrict the
    // dump to those queries (local iteration; the driver passes two args)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.builder()
      // write micros, not INT96 — the driver's pandas/DuckDB readers
      // canonicalize micros; INT96 round-trips as a different dtype
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // reap localCheckpoint/broadcast blocks across the 120-query run
      .config("spark.cleaner.periodicGC.interval", "30s")
      // avoid generated-class cache thrash across 120+ query shapes
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Canonicalize timestamp outputs: session-tz(UTC) instants →
    // TIMESTAMP_NTZ, so parquet carries naive micros — the same value
    // and dtype DuckDB produces for the oracle's naive TIMESTAMP
    // literals/truncs (tz-aware micros would hash-mismatch).
    def canonTs(df: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.TimestampType
      df.schema.fields.filter(_.dataType == TimestampType)
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, col(f.name).cast("timestamp_ntz")))
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try canonTs(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
