package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Write one query's dump. A NonFatal failure is logged and the run goes
    * on to the next query (returns false); fatal JVM errors (OOM, stack
    * overflow, linkage) propagate, as in Bench: after one the JVM is
    * poisoned and every later dump is suspect. */
  private[graft] def dumpQuery(name: String, write: () => Unit): Boolean =
    try { write(); true }
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      false
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only): substring filter on names
    val nameFilter = if (args.length > 2) Some(args(2)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.contains) }
      .foreach { case (name, fn) =>
        dumpQuery(name, () => fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name"))
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
