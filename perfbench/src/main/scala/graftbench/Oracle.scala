package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A text query as the benchmark generates it. `render` is the string the
  * engine's QueryParser receives; the reference evaluates the structure
  * itself, never the engine's parse of it.
  */
sealed trait RQ {
  def render: String
  def terms: Seq[String]
  /** BM25 scores are checked per hit; otherwise count and containment only. */
  def scored: Boolean = true
  def shape: String
}
final case class RTerm(t: String) extends RQ {
  def render: String = t; def terms: Seq[String] = Seq(t); def shape = "term"
}
final case class RAnd(ts: Seq[String]) extends RQ {
  def render: String = ts.map("+" + _).mkString(" "); def terms: Seq[String] = ts; def shape = "and"
}
final case class ROr(ts: Seq[String]) extends RQ {
  def render: String = ts.mkString(" OR "); def terms: Seq[String] = ts; def shape = "or"
}
final case class RNot(pos: String, neg: String) extends RQ {
  def render: String = s"+$pos -$neg"; def terms: Seq[String] = Seq(pos, neg); def shape = "not"
}
final case class RPhrase(a: String, b: String) extends RQ {
  def render: String = "\"" + a + " " + b + "\""; def terms: Seq[String] = Seq(a, b)
  override def scored = false; def shape = "phrase"
}
final case class RPrefix(p: String) extends RQ {
  def render: String = p + "*"; def terms: Seq[String] = Nil
  override def scored = false; def shape = "prefix"
}

/** BM25 as tantivy publishes it, written out here so the checks share no
  * code with the engine: k1 = 1.2, b = 0.75, idf = ln(1 + (N - n + 0.5) /
  * (n + 0.5)), avgdl = tokens / docs, and document length read through the
  * 256-entry fieldnorm code (exact up to 40, then a 3-bit-mantissa float).
  * f32 arithmetic, like tantivy's `Score`.
  */
object RefBm25 {
  val K1 = 1.2f
  val B = 0.75f

  val NormTable: Array[Long] = Array.tabulate(256) { id =>
    if (id < 24) id.toLong
    else {
      val j = id - 24
      val mant = j & 7
      val exp = j >> 3
      24L + (if (exp == 0) mant.toLong else (mant | 8).toLong << (exp - 1))
    }
  }

  /** Representative length of a document of `dl` kept tokens. */
  def quantizedLength(dl: Int): Long = {
    var id = 255
    while (NormTable(id) > dl) id -= 1
    NormTable(id)
  }

  def termScore(tf: Int, dl: Int, df: Long, n: Long, avgdl: Float): Float = {
    val x = ((n - df).toFloat + 0.5f) / (df.toFloat + 0.5f)
    val idf = math.log((1.0f + x).toDouble).toFloat
    val norm = K1 * (1.0f - B + B * quantizedLength(dl).toFloat / avgdl)
    idf * (1.0f + K1) * (tf.toFloat / (tf.toFloat + norm))
  }
}

/** The reference relation of one indexed corpus: per document its URL,
  * language and kept-token count, and the term frequencies of the terms the
  * queries use, all derived with Spark SQL built-ins from the raw corpus
  * rows (lowercase, split on non-alphanumerics, drop tokens of >= 40 UTF-8
  * bytes).
  */
final class TextRef(val urls: Array[String], val langs: Array[String], val dl: Array[Int],
    tfs: Map[String, Map[Int, Int]], flagDocs: Map[String, Set[Int]]) {
  val numDocs: Int = urls.length
  val local: Map[String, Int] = urls.zipWithIndex.toMap
  private def posting(t: String): Map[Int, Int] = tfs.getOrElse(t, Map.empty)

  /** Statistics and visibility of one index state: `visible` docs can match;
    * `counted` docs feed N, df and avgdl (they differ between a delete and
    * the merge that purges it).
    */
  final class View(visible: Int => Boolean, counted: Int => Boolean) {
    val n: Long = (0 until numDocs).count(counted).toLong
    val tokens: Long = (0 until numDocs).filter(counted).map(dl(_).toLong).sum
    val avgdl: Float = (tokens.toDouble / n.toDouble).toFloat
    private val dfCache = scala.collection.mutable.Map.empty[String, Long]
    def df(t: String): Long = dfCache.getOrElseUpdate(t, posting(t).keys.count(counted).toLong)

    private def has(t: String, d: Int): Boolean = posting(t).contains(d)

    def matches(q: RQ): Set[Int] = (q match {
      case RTerm(t) => posting(t).keySet
      case RAnd(ts) => ts.map(t => posting(t).keySet).reduce(_ intersect _)
      case ROr(ts) => ts.map(t => posting(t).keySet).reduce(_ union _)
      case RNot(p, n) => posting(p).keySet.filterNot(has(n, _))
      case other => flagDocs(other.render)
    }).filter(visible)

    def score(q: RQ, d: Int): Float = {
      val ts = q match {
        case RNot(p, _) => Seq(p)
        case _ => q.terms
      }
      var s = 0.0f
      ts.foreach { t =>
        posting(t).get(d).foreach(tf => s += RefBm25.termScore(tf, dl(d), df(t), n, avgdl))
      }
      s
    }
  }

  def view(visible: Int => Boolean = _ => true, counted: Int => Boolean = _ => true): View =
    new View(visible, counted)
}

object TextRef {
  /** One pass of Spark SQL built-ins over the raw rows: per document its
    * kept-token count, its tokens that are query terms (repeats kept, for
    * term frequencies), its adjacent-token pairs that are query phrases, and
    * its tokens that start with a query prefix. Tokens are the lowercased
    * text split on non-alphanumerics; tokens of >= 40 UTF-8 bytes are
    * dropped but keep their position, so no phrase spans them.
    */
  def compute(spark: SparkSession, corpus: DataFrame, queries: Seq[RQ]): TextRef = {
    val terms = queries.flatMap(_.terms).distinct
    val phrases = queries.collect { case p: RPhrase => p }.distinct
    val prefixes = queries.collect { case p: RPrefix => p }.distinct
    val prefixLens = prefixes.map(_.p.length).distinct.sorted
    def kept(t: org.apache.spark.sql.Column) = octet_length(t) > 0 && octet_length(t) < 40
    def oneOf(c: org.apache.spark.sql.Column, xs: Seq[String]) = if (xs.isEmpty) lit(false) else c.isin(xs: _*)
    val raw = corpus.select(col("url"), col("lang"), split(lower(col("text")), "[^\\p{L}\\p{N}]+").as("raw"))
    val bigrams = transform(sequence(lit(1), greatest(size(col("raw")) - 1, lit(1))),
      i => concat(lit("\""), element_at(col("raw"), i), lit(" "), element_at(col("raw"), i + 1), lit("\"")))
    val rows = raw.select(Seq(col("url"), col("lang"),
        size(filter(col("raw"), kept(_))),
        filter(col("raw"), t => kept(t) && oneOf(t, terms)),
        array_distinct(filter(bigrams, b => oneOf(b, phrases.map(_.render))))) ++
      prefixLens.map(n => array_distinct(filter(col("raw"),
        t => kept(t) && oneOf(substring(t, 1, n), prefixes.filter(_.p.length == n).map(_.p))))): _*)
      .collect().sortBy(_.getString(0))

    val tfs = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[Int, Int]]
    val flags = scala.collection.mutable.HashMap.empty[String, Set[Int]].withDefaultValue(Set.empty)
    rows.indices.foreach { d =>
      val r = rows(d)
      r.getSeq[String](3).foreach { t =>
        val m = tfs.getOrElseUpdate(t, scala.collection.mutable.HashMap.empty)
        m(d) = m.getOrElse(d, 0) + 1
      }
      r.getSeq[String](4).foreach(p => flags(p) += d)
      prefixLens.indices.foreach { j =>
        r.getSeq[String](5 + j).map(_.take(prefixLens(j))).distinct.foreach(p => flags(p + "*") += d)
      }
    }
    new TextRef(rows.map(_.getString(0)), rows.map(_.getString(1)), rows.map(_.getInt(2)),
      tfs.map { case (t, m) => t -> m.toMap }.toMap,
      (phrases ++ prefixes).map(q => q.render -> flags(q.render)).toMap)
  }
}

/** Comparisons of engine output with the reference. Each returns the first
  * discrepancy found, or None.
  */
object Check {
  val ScoreTol = 1e-4

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= ScoreTol * math.max(math.abs(b), 1e-6)

  /** `hits` are (url, score) in engine rank order. */
  def topDocs(v: TextRef#View, ref: TextRef, q: RQ, k: Int, hits: Seq[(String, Float)]): Option[String] = {
    val m = v.matches(q)
    val want = math.min(k, m.size)
    if (hits.size != want) return Some(s"${q.render}: ${hits.size} hits, want $want")
    if (hits.map(_._1).distinct.size != hits.size) return Some(s"${q.render}: duplicate hit")
    for ((url, score) <- hits) {
      val d = ref.local.get(url)
      if (d.isEmpty || !m.contains(d.get)) return Some(s"${q.render}: hit $url does not match")
      if (q.scored && !close(score, v.score(q, d.get)))
        return Some(s"${q.render}: $url scored $score, reference ${v.score(q, d.get)}")
    }
    if (q.scored) {
      val refTop = m.toSeq.map(d => v.score(q, d)).sorted(Ordering[Float].reverse).take(k)
      val got = hits.map(_._2)
      val bad = got.zip(refTop).indexWhere { case (g, r) => !close(g, r) }
      if (bad >= 0) return Some(s"${q.render}: rank ${bad + 1} score ${got(bad)}, reference top-k has ${refTop(bad)}")
    }
    None
  }

  def count(v: TextRef#View, q: RQ, n: Long): Option[String] = {
    val want = v.matches(q).size.toLong
    if (n != want) Some(s"count(${q.render}) = $n, reference $want") else None
  }

  /** Terms aggregation on `lang` over the query's matches. */
  def langAgg(v: TextRef#View, ref: TextRef, q: RQ, buckets: Map[String, Long]): Option[String] = {
    val want = v.matches(q).toSeq.groupBy(ref.langs(_)).map { case (l, ds) => l -> ds.size.toLong }
    if (buckets != want) Some(s"lang terms agg of ${q.render} = $buckets, reference $want") else None
  }
}

/** Brute-force cosine over the generated vectors, in plain Scala. */
final class VecRef(val vecs: Array[Array[Float]]) {
  val n: Int = vecs.length
  private val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))

  def cos(a: Int, b: Int): Double = {
    val x = vecs(a); val y = vecs(b)
    var dot = 0.0; var i = 0
    while (i < x.length) { dot += x(i).toDouble * y(i).toDouble; i += 1 }
    dot / (norms(a) * norms(b))
  }

  /** Exact top-k neighbours of `q` among ids not in `exclude`, best first
    * (ties by ascending id).
    */
  def topK(q: Int, k: Int, exclude: Set[Int]): Seq[(Int, Double)] =
    (0 until n).filterNot(exclude).map(j => (j, cos(q, j)))
      .sortBy { case (j, c) => (-c, j) }.take(k)
}

object VecCheck {
  def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact batch top-k: scores equal the rounded reference within 1e-6, ids
    * equal wherever the reference scores are separated.
    */
  def exact(ref: VecRef, q: Int, k: Int, exclude: Set[Int], got: Seq[(Int, Double)]): Option[String] = {
    val want = ref.topK(q, k, exclude)
    if (got.size != want.size) return Some(s"query $q: ${got.size} neighbours, want ${want.size}")
    for (r <- want.indices) {
      val (wid, wc) = want(r)
      if (math.abs(got(r)._2 - round4(wc)) > 1e-6)
        return Some(s"query $q rank ${r + 1}: cos ${got(r)._2}, reference ${round4(wc)}")
      val separated = (r == 0 || want(r - 1)._2 - wc > 1e-9) &&
        (r == want.size - 1 || wc - want(r + 1)._2 > 1e-9)
      if (separated && got(r)._1 != wid)
        return Some(s"query $q rank ${r + 1}: id ${got(r)._1}, reference $wid")
    }
    None
  }

  /** Approximate neighbours: k distinct non-self ids, each scored with its
    * true (rounded) cosine, best first.
    */
  def approx(ref: VecRef, q: Int, k: Int, got: Seq[(Int, Double)]): Option[String] = {
    if (got.size != math.min(k, ref.n - 1)) return Some(s"query $q: ${got.size} neighbours, want $k")
    if (got.map(_._1).distinct.size != got.size) return Some(s"query $q: duplicate neighbour")
    if (got.exists(_._1 == q)) return Some(s"query $q: self edge")
    for ((id, c) <- got)
      if (math.abs(c - ref.cos(q, id)) > 5e-5 + 1e-6)
        return Some(s"query $q: neighbour $id cos $c, reference ${ref.cos(q, id)}")
    if (got.map(_._2).sliding(2).exists(p => p.size == 2 && p(0) < p(1)))
      return Some(s"query $q: neighbours not best-first")
    None
  }

  def recall(ref: VecRef, q: Int, k: Int, got: Seq[Int]): Double =
    got.toSet.intersect(ref.topK(q, k, Set(q)).map(_._1).toSet).size.toDouble / k

  def meanRecall(ref: VecRef, k: Int, results: Seq[(Int, Seq[Int])]): Double =
    if (results.isEmpty) 0.0 else results.map { case (q, ids) => recall(ref, q, k, ids) }.sum / results.size

  /** Mean recall@k of (query, neighbour ids) results must reach `floor`: the
    * only check that catches wrong neighbours reported with their true cosines.
    */
  def recallGate(ref: VecRef, k: Int, floor: Double, results: Seq[(Int, Seq[Int])]): Option[String] = {
    val m = meanRecall(ref, k, results)
    if (m < floor) Some(f"mean recall@$k $m%.3f below $floor") else None
  }
}
