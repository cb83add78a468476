package graft.tools

import org.apache.spark.sql.SparkSession
import graft.index._
import graft.search.{Query, QueryParser, SegmentScan, Searcher}

/** spark-submit entry point for the whole pipeline (north rule: "runs via
  * spark-submit on multi-executor clusters") — the operational surface a
  * reference CLI user drives: build/append an index from a Parquet/Iceberg
  * table of web pages, serve queries, merge, delete, roll back, inspect.
  *
  * In production: `spark-submit --class graft.tools.IndexCli app.jar <cmd>`
  * with a real master; in the sandbox the master defaults to local[*]
  * (override with GRAFT_MASTER). No code path differs between the two —
  * parallelism is a property of the session, the index layout is a property
  * of `IndexConfig.numPartitions`. Smoke-verified against the plain
  * `sbt package` jar (Spark jars provided by the cluster):
  * `/opt/spark/bin/spark-submit --master local[8] --driver-memory 8g
  * --class graft.tools.IndexCli target/scala-2.13/tantivyspark_*.jar
  * count <indexDir> "alpha OR beta"` — give the driver headroom in local
  * mode, where executor fruit merges land on the driver heap too.
  *
  * Commands:
  *   build  <srcParquet> <indexDir> [numPartitions=32] [textCol=text] [keyCol=url] [analyzer=default]
  *   search <indexDir> [--stats] <query...> (QueryParser syntax; top-10;
  *                                           --stats: segment-read counters
  *                                           and the scan's metrics)
  *   count  <indexDir> <query...>
  *   aggregate <indexDir> <query...> <aggJson>  (search + ES aggs, one request)
  *   merge  <indexDir> [maxFanIn=16]        (log-policy rounds until stable)
  *   delete <indexDir> <field> <term>
  *   rollback <indexDir> <commitSeq>
  *   snapshots <indexDir>
  *   stats  <indexDir>                      (manifest + space usage)
  */
object IndexCli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]"))
      .appName(s"graft-${args(0)}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private[tools] def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "build" =>
      val Array(_, src, dir, rest @ _*) = args: @unchecked
      val parts = rest.headOption.map(_.toInt).getOrElse(32)
      val textCol = rest.lift(1).getOrElse("text")
      val keyCol = rest.lift(2).getOrElse("url")
      val analyzer = rest.lift(3).getOrElse("default")
      val df = spark.read.parquet(src)
      val m = IndexBuilder.build(spark, df, dir,
        IndexConfig(numPartitions = parts, keyField = keyCol, textField = textCol,
          textAnalyzer = analyzer))
      println(s"committed seq=${m.commitSeq}: ${m.segments.size} segments, " +
        s"${m.totalDocs} docs, ${m.totalTokens} tokens")
      m.segments.sortBy(_.segment).foreach { s =>
        println(f"  segment=${s.segment}%-6d docs=${s.numDocs}%-9d " +
          f"postingsBytes=${s.postingsBytes}%-12d docs/sec=${s.docsPerSec}%.0f fanIn=${s.mergeFanIn}")
      }
    case "search" =>
      val dir = args(1)
      val stats = args.lift(2).contains("--stats")
      val q = parse(spark, dir, args.drop(if (stats) 3 else 2).mkString(" "))
      val before = SegmentFiles.Counters.snapshot
      val (hits, queries) = SegmentScan.executedDuring(spark)(new Searcher(spark, dir).topDocs(q, 10))
      hits.foreach(h => println(f"${h.rank}%3d  ${h.score}%10.4f  ${h.url}"))
      if (stats) {
        // this call's segment reads in this JVM (the driver's planning, and
        // in local mode the kernel tasks' too): file reads, rows returned,
        // bytes read, Parquet opens, parts decoded into the reader cache and
        // the cache's resident estimate; then the kernel tasks' own reads,
        // from the scan's metrics, wherever the tasks ran
        val d = SegmentFiles.Counters.snapshot.since(before)
        val scan = SegmentScan.metricsOf(queries.map(_.executedPlan))
        def m(k: String) = scan.getOrElse(k, 0L)
        println(s"stats: files=${d.files} rows=${d.rows} bytes=${d.bytes} opens=${d.opens} " +
          s"decodes=${d.decodes} cachedBytes=${d.cachedBytes} scanRows=${m("rows")} " +
          s"scanBytes=${m("bytes")} scanOpens=${m("opens")} scanDecodes=${m("decodes")}")
      }
    case "count" =>
      val dir = args(1)
      val q = parse(spark, dir, args.drop(2).mkString(" "))
      println(new Searcher(spark, dir).count(q))
    case "merge" =>
      val fanIn = args.lift(2).map(_.toInt).getOrElse(16)
      val minSegs = args.lift(3).map(_.toInt).getOrElse(8)
      val m = SegmentMerger.mergeUntilStable(spark, args(1),
        SegmentMerger.LogMergePolicy(minNumSegments = minSegs, maxFanIn = fanIn))
      println(s"stable at seq=${m.commitSeq}: ${m.segments.size} segments, ${m.totalDocs} docs")
    case "delete" =>
      val m = Deleter.deleteTerm(spark, args(1), args(2), args(3))
      println(s"tombstone recorded at opstamp=${m.commitSeq} (${m.deletes.size} pending)")
    case "delete-query" =>
      val m = Deleter.deleteQuery(spark, args(1), args.drop(2).mkString(" "))
      println(s"query tombstone recorded at opstamp=${m.commitSeq} (${m.deletes.size} pending)")
    case "rollback" =>
      val m = Snapshots.rollback(spark, args(1), args(2).toLong)
      println(s"rolled back to snapshot ${args(2)} as new commit seq=${m.commitSeq}")
    case "snapshots" =>
      val dir = args(1)
      val cur = IndexManifest.read(spark, dir).map(_.commitSeq)
      Snapshots.list(spark, dir).foreach { s =>
        val m = Snapshots.readAt(spark, dir, s)
        val mark = if (cur.contains(s)) " <- current" else ""
        println(s"seq=$s segments=${m.map(_.segments.size).getOrElse(-1)} " +
          s"docs=${m.map(_.totalDocs).getOrElse(-1L)}$mark")
      }
    case "aggregate" =>
      // search + ES-style aggregations in one request: the last arg is the
      // agg-request JSON, everything between is the engine query
      val dir = args(1)
      require(args.length >= 4, "aggregate <indexDir> <query...> <aggJson>")
      val q = parse(spark, dir, args.drop(2).dropRight(1).mkString(" "))
      println(new Searcher(spark, dir).aggregate(q, args.last))
    case "terms" =>
      // dictionary walk (prefix-pruned like the FST seek): term + global df
      val dir = args(1)
      val field = args.lift(2).getOrElse("text")
      val prefix = args.lift(3).getOrElse("")
      val s = new Searcher(spark, dir)
      val ts = s.dictionaryTerms(Query.Prefix(field, prefix, 50))
      val dfs = s.docFreqs(ts.map(t => (field, t)).toSet)
      ts.foreach(t => println(f"${dfs.getOrElse((field, t), 0L)}%9d  $t"))
    case "stats" =>
      val s = new Searcher(spark, args(1))
      val m = s.manifest
      println(s"commitSeq=${m.commitSeq} segments=${m.segments.size} docs=${m.totalDocs} " +
        s"tokens=${m.totalTokens} deletes=${m.deletes.size} analyzer=${m.textAnalyzer} " +
        s"fastFields=${m.fastFields.map(_.name).mkString(",")}")
      val su = s.spaceUsage
      println(s"total index bytes (logical): ${su.total}")
      su.perField.toSeq.sortBy(-_._2).foreach { case (f, b) => println(f"  $f%-16s $b%12d B") }
    case other => throw new IllegalArgumentException(s"unknown command '$other'\n$usage")
  }

  /** Parse with the index's own field defaults (text field for bare terms). */
  private def parse(spark: SparkSession, dir: String, s: String): Query = {
    val m = IndexManifest.read(spark, dir)
      .getOrElse(throw new IllegalStateException(s"no manifest at $dir"))
    new QueryParser(m.textField, analyzer = m.textAnalyzer).parse(s)
  }

  private val usage: String =
    """usage: IndexCli build <srcParquet> <indexDir> [numPartitions] [textCol] [keyCol] [analyzer]
      |       IndexCli search <indexDir> [--stats] <query...>
      |       IndexCli count <indexDir> <query...>
      |       IndexCli aggregate <indexDir> <query...> <aggJson>
      |       IndexCli merge <indexDir> [maxFanIn] [minNumSegments]
      |       IndexCli delete <indexDir> <field> <term>
      |       IndexCli delete-query <indexDir> <query...>
      |       IndexCli rollback <indexDir> <commitSeq>
      |       IndexCli terms <indexDir> [field] [prefix]
      |       IndexCli snapshots|stats <indexDir>""".stripMargin
}
