package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The queries to dump: all of `known`, or those named in the
    * comma-separated `only` list (`SPARK_GRAFT_QUERIES`). A name that is
    * not a query fails before anything is dumped, listing every such name.
    */
  def selectQueries(only: Option[String], known: Seq[String]): Seq[String] = only match {
    case None => known
    case Some(list) =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(known.contains).toSeq.sorted
      require(unknown.isEmpty, s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.mkString(", ")}")
      known.filter(names.contains)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_QUERIES=a,b,c re-dumps only the named queries — for
    // targeted staged-scale passes where one row changed.
    val selected = selectQueries(sys.env.get("SPARK_GRAFT_QUERIES"), SparkEntry.queries.keys.toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY_ORACLES=1 refreshes oracle_sql.json alone — for
    // oracle-formulation-only changes against an existing query dump
    // (the parquet outputs don't depend on the oracle text).
    if (!sys.env.get("SPARK_GRAFT_ONLY_ORACLES").contains("1"))
      selected.foreach { name =>
        try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
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
