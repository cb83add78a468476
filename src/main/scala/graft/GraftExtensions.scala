package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The library's SQL function surface, registered either through
  * `spark.sql.extensions=graft.GraftExtensions` / `.withExtensions(...)`
  * (cluster-wide) or `GraftFunctions.registerAll(spark)` (an existing
  * session) — the extension-surface analog of the reference's tokenizer /
  * aggregation registries (`tokenizer_manager.rs:56`, SURVEY §2.8).
  */
object GraftFunctions {

  private def info(clazz: Class[_], name: String): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  /** ES default percents (percentiles.rs request defaults). */
  private val DefaultPercents = Seq(1.0, 5.0, 25.0, 50.0, 75.0, 95.0, 99.0)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("tantivy_tokenize"),
      info(classOf[functions.TantivyTokenize], "tantivy_tokenize"),
      (es: Seq[Expression]) => functions.TantivyTokenize(es.head)),
    (FunctionIdentifier("porter_stem"),
      info(classOf[functions.PorterStem], "porter_stem"),
      (es: Seq[Expression]) => functions.PorterStem(es.head)),
    (FunctionIdentifier("en_stem"),
      info(classOf[functions.EnStem], "en_stem"),
      (es: Seq[Expression]) => functions.EnStem(es.head)),
    (FunctionIdentifier("snowball_stem"),
      info(classOf[functions.SnowballStem], "snowball_stem"),
      (es: Seq[Expression]) => {
        require(es.length == 2 && es(1).foldable,
          "snowball_stem: usage snowball_stem(token, 'language') with a literal language")
        val lang = es(1).eval(null).toString
        functions.SnowballStem(es.head, lang)
      }),
    (FunctionIdentifier("sql_tokens"),
      info(classOf[functions.SqlTokens], "sql_tokens"),
      (es: Seq[Expression]) => functions.SqlTokens(es.head)),
    (FunctionIdentifier("distinct_shingles"),
      info(classOf[functions.DistinctShingles], "distinct_shingles"),
      (es: Seq[Expression]) => functions.DistinctShingles(es.head)),
    (FunctionIdentifier("minhash_sigs"),
      info(classOf[functions.MinHashSigs], "minhash_sigs"),
      (es: Seq[Expression]) => functions.MinHashSigs(es.head)),
    (FunctionIdentifier("shingle_xxhashes"),
      info(classOf[functions.ShingleXxHashes], "shingle_xxhashes"),
      (es: Seq[Expression]) => functions.ShingleXxHashes(es.head)),
    (FunctionIdentifier("ddsketch_percentiles"),
      info(classOf[agg.DDSketchPercentiles], "ddsketch_percentiles"),
      (es: Seq[Expression]) => {
        // percents must be a foldable numeric array (evaluated at plan time)
        val percents =
          if (es.length < 2) DefaultPercents
          else {
            val cast = Cast(es(1), ArrayType(DoubleType))
            require(cast.foldable, "ddsketch_percentiles: percents must be a literal array")
            cast.eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq
          }
        agg.DDSketchPercentiles(Cast(es.head, DoubleType), percents)
      }),
    (FunctionIdentifier("bpe_tokens"),
      info(classOf[functions.BpeTokens], "bpe_tokens"),
      (es: Seq[Expression]) => {
        require(es.length == 2 && es(1).foldable,
          "bpe_tokens: usage bpe_tokens(text, array('l o', 'lo w')) with a " +
            "literal rank-ordered merge list ('left right' per entry)")
        val cast = Cast(es(1), ArrayType(org.apache.spark.sql.types.StringType))
        val merges = cast.eval(null).asInstanceOf[ArrayData]
          .toArray[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType)
          .map { u =>
            val parts = u.toString.split(" ", 2)
            require(parts.length == 2, s"bpe_tokens: bad merge entry '$u'")
            (parts(0), parts(1))
          }.toSeq
        functions.BpeTokens(es.head, merges)
      }),
    (FunctionIdentifier("normalize_text"),
      info(classOf[functions.NormalizeText], "normalize_text"),
      (es: Seq[Expression]) => functions.NormalizeText(es.head)),
    (FunctionIdentifier("vec_cosine"),
      info(classOf[functions.VecCosine], "vec_cosine"),
      (es: Seq[Expression]) => functions.VecCosine(
        Cast(es(0), ArrayType(DoubleType)), Cast(es(1), ArrayType(DoubleType)))),
    (FunctionIdentifier("lsh_bucket"),
      info(classOf[functions.LshBucket], "lsh_bucket"),
      (es: Seq[Expression]) => {
        require(es.length == 3 && es(1).foldable && es(2).foldable,
          "lsh_bucket: usage lsh_bucket(vec, nBits, dim) with literal nBits/dim")
        functions.LshBucket(Cast(es(0), ArrayType(DoubleType)),
          es(1).eval(null).toString.toInt, es(2).eval(null).toString.toInt)
      }))

  /** Register on an already-running session's function registry. */
  def registerAll(spark: SparkSession): Unit = all.foreach { case (id, inf, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
  }
}

/** `spark.sql.extensions` entry point: the SQL functions and the planner
  * strategy of the search engine's segment scans.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => search.SegmentScanStrategy)
  }
}
