package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Decomposes the batched-query kernel job's scan-stage cost against a real
  * index: (a) pruned row count + bytes under the exact batch row-condition,
  * (b) pruned scan wall time with/without the binary columns materialized,
  * (c) full-file scan for contrast. Usage: ScanProbe <cores> <indexDir>
  */
object ScanProbe {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val indexDir = args(1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000L).selectExpr("sum(id)").collect()

    val postings = spark.read.parquet(s"$indexDir/postings")
    val terms = Seq("alpha", "beta", "gamma", "w00010", "w00050", "w00200")
    val rowCond: Column =
      (col("field") === "text" && col("term").isin(terms: _*)) ||
        (col("field") === "__norms__" && col("term") === "text")

    def timed(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scan] $label%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s -> $r")
    }

    // pruned row stats (tiny aggregate; itself a pruned scan)
    timed("pruned rows+bytes") {
      val r = postings.where(rowCond)
        .select(count(lit(1)), sum(length(col("postings"))), sum(length(col("positions"))))
        .collect()(0)
      s"rows=${r.getLong(0)} postingsB=${r.getLong(1)} positionsB=${r.getLong(2)}"
    }
    timed("pruned count only") (postings.where(rowCond).count())
    // decode cost: force-materialize the binary columns of the pruned rows
    timed("pruned blob checksum") {
      postings.where(rowCond)
        .select(sum(crc32(col("postings"))), sum(crc32(col("skip")))).collect()(0).getLong(0)
    }
    timed("pruned blob checksum (rep 2)") {
      postings.where(rowCond)
        .select(sum(crc32(col("postings"))), sum(crc32(col("skip")))).collect()(0).getLong(0)
    }
    // the exact shape the kernel fan-out reads before its exchange: typed rows
    timed("pruned typed collect->bytes") {
      import spark.implicits._
      postings.where(rowCond).as[graft.index.PostingRow]
        .map(r => r.postings.length.toLong + r.skip.length.toLong +
          (if (r.positions == null) 0L else r.positions.length.toLong))
        .reduce(_ + _)
    }
    // groupByKey exchange cost in isolation (shuffle the pruned rows, no kernels)
    timed("pruned groupByKey passthrough") {
      import spark.implicits._
      postings.where(rowCond).as[graft.index.PostingRow]
        .groupByKey(_.segment).mapGroups((seg, it) => (seg, it.size)).collect().length
    }
    timed("full-file scan count") (postings.count())
    timed("full blob checksum") {
      postings.select(sum(crc32(col("postings")))).collect()(0).getLong(0)
    }
    println("==== pruned scan plan ====")
    postings.where(rowCond).explain("formatted")
    spark.stop()
  }
}
