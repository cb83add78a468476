package graftbench

/** Shows that the checks can fail: each comparison must accept a result
  * computed from the reference itself and reject the same result perturbed
  * (a dropped hit, two ranks swapped, a score off by 1e-3, a count off by
  * one, a wrong bucket count, a wrong ANN neighbour, and wrong neighbours
  * with true cosines that only the recall gates catch). Runs at the start of
  * every run; returns the cases that were not rejected.
  */
object SelfTest {
  def run(): Seq[String] = {
    val r = new scala.util.Random(17)
    val n = 60
    val urls = Array.tabulate(n)(i => f"https://self.test/p$i%08d")
    val langs = Array.tabulate(n)(i => if (i % 5 == 0) "de" else "en")
    val dl = Array.fill(n)(5 + r.nextInt(300))
    val tfs = Map(
      "a" -> (0 until n).filter(_ % 2 == 0).map(d => d -> (1 + r.nextInt(6))).toMap,
      "b" -> (0 until n).filter(_ % 3 == 0).map(d => d -> (1 + r.nextInt(6))).toMap)
    val ref = new TextRef(urls, langs, dl, tfs, Map.empty)
    val v = ref.view()
    val k = 10
    val bad = Seq.newBuilder[String]
    def expectOk(name: String, res: Option[String]): Unit = res.foreach(e => bad += s"$name (clean result rejected: $e)")
    def expectReject(name: String, res: Option[String]): Unit = if (res.isEmpty) bad += name

    for (q <- Seq(RTerm("a"), ROr(Seq("a", "b")), RAnd(Seq("a", "b")), RNot("a", "b"))) {
      val hits = v.matches(q).toSeq.map(d => (urls(d), v.score(q, d)))
        .sortBy { case (u, s) => (-s, u) }.take(k)
      expectOk(s"${q.shape} top-k", Check.topDocs(v, ref, q, k, hits))
      expectReject(s"${q.shape}: dropped hit", Check.topDocs(v, ref, q, k, hits.patch(hits.size / 2, Nil, 1)))
      val i = hits.indices.find(j => j + 1 < hits.size && hits(j)._2 != hits(j + 1)._2).get
      expectReject(s"${q.shape}: ranks swapped",
        Check.topDocs(v, ref, q, k, hits.updated(i, hits(i + 1)).updated(i + 1, hits(i))))
      expectReject(s"${q.shape}: score off by 1e-3",
        Check.topDocs(v, ref, q, k, hits.updated(0, (hits(0)._1, hits(0)._2 + 1e-3f))))
      val n0 = v.matches(q).size.toLong
      expectOk(s"${q.shape} count", Check.count(v, q, n0))
      expectReject(s"${q.shape}: count off by one", Check.count(v, q, n0 + 1))
      val buckets = v.matches(q).toSeq.groupBy(langs(_)).map { case (l, ds) => l -> ds.size.toLong }
      expectOk(s"${q.shape} agg", Check.langAgg(v, ref, q, buckets))
      expectReject(s"${q.shape}: bucket off by one",
        Check.langAgg(v, ref, q, buckets.updated("en", buckets("en") + 1)))
    }
    // spot values of tantivy's published FIELD_NORMS_TABLE
    expectOk("fieldnorm table", if (RefBm25.NormTable(255) == 2013265944L &&
      RefBm25.NormTable(41) == 42L && RefBm25.quantizedLength(57) == 56L) None else Some("table differs"))

    val vecs = Array.fill(200, 8)(r.nextGaussian().toFloat)
    val vr = new VecRef(vecs)
    val q = 3
    val exact = vr.topK(q, k, Set(q)).map { case (id, c) => (id, VecCheck.round4(c)) }
    expectOk("exact top-k", VecCheck.exact(vr, q, k, Set(q), exact))
    val outsider = (0 until vr.n).find(j => j != q && !exact.exists(_._1 == j)).get
    expectReject("exact: wrong neighbour", VecCheck.exact(vr, q, k, Set(q), exact.updated(4, (outsider, exact(4)._2))))
    expectReject("exact: dropped neighbour", VecCheck.exact(vr, q, k, Set(q), exact.dropRight(1)))
    expectOk("ann", VecCheck.approx(vr, q, k, exact))
    expectReject("ann: wrong neighbour", VecCheck.approx(vr, q, k, exact.updated(4, (outsider, exact(4)._2))))
    expectReject("ann: self edge", VecCheck.approx(vr, q, k, exact.updated(9, (q, 1.0))))

    // wrong neighbours reported with their true cosines, best first: the
    // per-query check accepts them, and only the recall gates can reject them
    val top = Seq(3, 5, 7, 11).map(q => q -> vr.topK(q, 2 * k, Set(q)).map { case (id, c) => (id, VecCheck.round4(c)) })
    def swapIn(wrong: Int) = top.map { case (q, t) => q -> (t.take(k - wrong) ++ t.slice(k, k + wrong)) }
    val ids = (res: Seq[(Int, Seq[(Int, Double)])]) => res.map { case (q, t) => q -> t.map(_._1) }
    for ((gate, floor, wrong) <- Seq(("ann", Sizes.AnnRecallFloor, 3), ("graph", Sizes.GraphRecallFloor, 2))) {
      expectOk(s"$gate recall gate", VecCheck.recallGate(vr, k, floor, ids(swapIn(0))))
      swapIn(wrong).foreach { case (q, t) => expectOk(s"$gate: true-cosine outsiders pass approx", VecCheck.approx(vr, q, k, t)) }
      expectReject(s"$gate: $wrong of $k neighbours wrong, true cosines", VecCheck.recallGate(vr, k, floor, ids(swapIn(wrong))))
    }
    bad.result()
  }
}
