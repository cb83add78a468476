package graftbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.WebCorpus

/** Everything a run feeds the engine, derived from the workload and seed.
  *
  * Corpus: `WebCorpus.genDoc(i)` depends only on `WebCorpus.Seed + i`, so
  * each seed reads its own doc indices and gets a distinct corpus: a
  * 10,000-term Zipf(1.1) vocabulary `w00000..w09999` plus `alpha` (~50% of
  * docs), `beta` (~10%) and `gamma` (~1%), 5..400 tokens per doc. Doc j of
  * a seed is index `seed * 2*10^8 + j * 7919`, not `base + j`: the
  * generator seeds `java.util.Random` with `Seed + i`, whose first draws are
  * correlated across consecutive seeds, so a contiguous range has a
  * start-dependent length distribution (12,000 docs average 238 to 992
  * characters by offset), while the strided range averages 631-636 at
  * every seed tried.
  *
  * Query terms (fixed per workload; see `rnd`): the `head_terms` workload
  * draws from the vocabulary head (ranks 0-63 and the three sentinels: long
  * posting lists, so the kernels decode and score much); the `tail_terms`
  * workload draws Zipf-weighted from ranks 500-9999 (short posting lists, so
  * fixed per-query cost dominates). Both draw their queries the same way
  * otherwise, so the two workloads differ only in term popularity.
  */
final class Inputs(val workload: String, val seed: Long, stream: Int = 0) {
  require(Inputs.Workloads.contains(workload), s"unknown workload '$workload'")
  val hot: Boolean = workload == "head_terms"
  private val salt = 1000L * stream + (if (hot) 1 else 2)
  /** Query terms and shapes: the same at every seed, so a seed changes the
    * corpus, not the query mix (per-query cost varies by a factor of three
    * across shapes and terms, which would otherwise dominate the spread).
    */
  private val rnd = new Random(salt)
  /** Draws that must follow the corpus (phrases) or the vectors. */
  private val seedRnd = new Random(seed * 7919L + salt)

  val docBase: Long = math.floorMod(seed, 1000L) * 200000000L

  /** Corpus doc index of this seed's j-th doc (j < 25,000). */
  def docIndex(j: Long): Long = docBase + j * Inputs.Stride

  private def word(rank: Int): String = f"w$rank%05d"

  private def zipfCum(lo: Int, hi: Int): Array[Double] = {
    val w = (lo to hi).map(r => 1.0 / math.pow(r + 1.0, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val headCum = zipfCum(0, 63)
  private val tailCum = zipfCum(500, 9999)
  private def draw(cum: Array[Double], lo: Int): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
    lo + math.min(if (i >= 0) i else -i - 1, cum.length - 1)
  }

  private def term(): String =
    if (hot) {
      if (rnd.nextDouble() < 0.5) Seq("alpha", "beta", "gamma")(rnd.nextInt(3))
      else word(draw(headCum, 0))
    } else word(draw(tailCum, 500))

  private def distinctTerms(n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += term()
    out.toSeq
  }

  /** A phrase that occurs: two adjacent tokens of a random corpus doc
    * (vocabulary head for `head_terms`, both tokens rank >= 500 for
    * `tail_terms`).
    */
  private def phrase(corpusDocs: Long): RPhrase = {
    def ok(t: String): Boolean =
      if (hot) t.startsWith("w000") || Set("alpha", "beta", "gamma")(t)
      else t.startsWith("w") && t.drop(1).toInt >= 500
    while (true) {
      val toks = WebCorpus.genText(docIndex((seedRnd.nextLong() & Long.MaxValue) % corpusDocs)).split(' ')
      val pairs = toks.sliding(2).filter(p => p.length == 2 && ok(p(0)) && ok(p(1)) && p(0) != p(1)).toSeq
      if (pairs.nonEmpty) { val p = pairs(seedRnd.nextInt(pairs.size)); return RPhrase(p(0), p(1)) }
    }
    throw new IllegalStateException("unreachable")
  }

  private def prefix(): RPrefix =
    if (hot) RPrefix(s"w00${1 + rnd.nextInt(4)}") else RPrefix(s"w0${50 + rnd.nextInt(50)}")

  /** One query of the given shape. */
  def query(shape: String, corpusDocs: Long): RQ = shape match {
    case "term" => RTerm(term())
    case "and2" => RAnd(distinctTerms(2))
    case "and3" => RAnd(distinctTerms(3))
    case "or2" => ROr(distinctTerms(2))
    case "or3" => ROr(distinctTerms(3))
    case "not" => val ts = distinctTerms(2); RNot(ts(0), ts(1))
    case "phrase" => phrase(corpusDocs)
    case "prefix" => prefix()
  }

  /** Shapes of one interactive round (tantivy's and_or_queries shapes plus a
    * dictionary-expanding prefix), each a `topDocs` at k = 10.
    */
  val interactiveShapes: Seq[String] = Seq("term", "and2", "and3", "or2", "or3", "not", "phrase", "prefix")

  /** `rounds` interactive rounds, each of eight topDocs queries (one per
    * shape), the five boolean ones of which are also counted (the total a
    * results page shows beside its top ten), and one aggregation query.
    * Counting queries the searcher has just planned keeps every count on the
    * same path: a count whose terms are new first runs the doc-freq job,
    * which doubles its cost, and with freshly drawn terms the share of such
    * counts varied by seed and split the median between the two costs.
    */
  def interactiveRounds(rounds: Int, corpusDocs: Long): Seq[(Seq[RQ], Seq[RQ], RQ)] =
    Seq.fill(rounds) {
      val td = interactiveShapes.map(query(_, corpusDocs))
      (td, td.filter(q => Set("and", "or", "not")(q.shape)), query("term", corpusDocs))
    }

  /** Shape mix of 15 log queries; every batch draws it four times, so each
    * batch costs the same number of dictionary expansions and phrase checks.
    */
  private val logMix = Seq("term" -> 4, "and2" -> 2, "and3" -> 1, "or2" -> 3, "or3" -> 2,
    "not" -> 1, "phrase" -> 1, "prefix" -> 1)

  /** Query log for the batch phase, `batches` batches of 60, each query
    * drawn on its own (no query is repeated on purpose).
    */
  def batchLog(batches: Int, corpusDocs: Long): Seq[Seq[RQ]] = Seq.fill(batches) {
    def mix() = logMix.flatMap { case (shape, n) => Seq.fill(n)(query(shape, corpusDocs)) }
    rnd.shuffle(mix() ++ mix() ++ mix() ++ mix())
  }

  /** Term whose docs the index-write phase deletes (~1% of docs). */
  val deletedTerm: String = "gamma"

  /** Stages this seed's docs j in [from, from + n) as Parquet
    * (url, warc_ts, text, lang).
    */
  def stageCorpus(spark: SparkSession, path: String, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val (base, stride) = (docBase, Inputs.Stride)
    spark.range(from, from + n, 1, parts).map(j => WebCorpus.genDoc(base + j * stride))
      .select("url", "warc_ts", "text", "lang")
      .write.parquet(path)
    spark.read.parquet(path)
  }

  /** Clustered 64-d vectors (centroids + 0.35 Gaussian noise, n/100 topics,
    * at least 12), the SimilaritySpec / VecScaleProbe generator shape.
    */
  def vectors(n: Int): Array[Array[Float]] = {
    val dim = 64
    val nClusters = math.max(12, n / 100)
    val cr = new Random(42L + seed)
    val centroids = Array.fill(nClusters, dim)(cr.nextGaussian())
    Array.tabulate(n) { i =>
      val r = new Random(1000L + docIndex(i))
      val c = centroids(i % nClusters)
      Array.tabulate(dim)(d => (c(d) + 0.35 * r.nextGaussian()).toFloat)
    }
  }

  def stageVectors(spark: SparkSession, path: String, vecs: Array[Array[Float]], parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq, parts)
      .toDF("vec_id", "embedding").write.parquet(path)
    spark.read.parquet(path)
  }

  def pick(n: Int, bound: Int): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < n) out += seedRnd.nextInt(bound)
    out.toSeq
  }
}

object Inputs {
  val Workloads: Seq[String] = Seq("head_terms", "tail_terms")
  val Stride = 7919L
}
