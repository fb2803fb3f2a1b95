package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (tools/check_oracle.py).
  *
  * Usage: Verify <sfDir> <outDir> [q...] — named queries restrict the
  * dump (results and oracle_sql.json) to those queries, for fast
  * iteration with tools/check_oracle.py. Every output is written even
  * when a query throws; the run then exits non-zero.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [q...]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1))
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // caller-owned operator caches (Caches.own) end with the query
      Caches.release(spark)
      err
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the oracle SQL would otherwise make the
    // consumer's json.load fail and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only.isEmpty || only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
