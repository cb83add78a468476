package graft.ops

import scala.collection.mutable.{ArrayBuffer, PriorityQueue}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The vector kernel under every embedding op of [[PipelineOps]]: one
  * packing fold, one dot, one squared distance, one pair loop with its
  * sinks, the two block pairings (the exact grid and the IVF probe
  * fan-out) and one driver-side Lloyd's.
  *
  * Every kernel cosine is `dot(a, b) / (|a| · |b|)`, the dot folded left to
  * right from 0.0 and each norm the square root of the row's own dot: the
  * fold order of [[PipelineOps.cosineExpr]] and DuckDB's
  * `list_dot_product`, so kernel cosines stay bit-identical to the
  * expression form and the oracle. A second loop with another order would
  * silently break that contract, which is why there is one of each here.
  */
private[ops] object VecBlocks {

  /** One block of vectors packed for the pair kernel: sorted ids, row-major
    * values, per-row norms.
    */
  final case class VecBlock(bid: Int, ids: Array[Long], flat: Array[Double],
      norms: Array[Double], dim: Int)

  /** THE dot: `a(ai + k) * b(bi + k)` summed for k = 0 until n, in order. */
  def dot(a: Array[Double], ai: Int, b: Array[Double], bi: Int, n: Int): Double = {
    var dot = 0.0
    var k = 0
    while (k < n) { dot += a(ai + k) * b(bi + k); k += 1 }
    dot
  }

  /** Squared L2 distance of `n` values, summed in order. */
  def sqDist(a: Array[Double], ai: Int, b: Array[Double], bi: Int, n: Int): Double = {
    var s = 0.0
    var k = 0
    while (k < n) { val t = a(ai + k) - b(bi + k); s += t * t; k += 1 }
    s
  }

  /** Index of the centroid nearest to `x(off until off + len)`, ties to the
    * lowest index.
    */
  def nearest(cs: Array[Array[Double]], x: Array[Double], off: Int, len: Int): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(cs(c), 0, x, off, len)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  def nearest(cs: Array[Array[Double]], x: Array[Double]): Int = nearest(cs, x, 0, x.length)

  /** The `n` centroids nearest to `x`, ordered by distance, then index. */
  def nearestN(cs: Array[Array[Double]], x: Array[Double], n: Int): Array[Int] =
    Array.tabulate(cs.length)(c => (sqDist(cs(c), 0, x, 0, x.length), c))
      .sortBy(t => (t._1, t._2)).take(n).map(_._2)

  /** `v / |v|`, or `v` itself when its norm is 0. */
  def unit(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(dot(v, 0, v, 0, v.length))
    if (nrm > 0) v.map(_ / nrm) else v
  }

  /** The query row's vector divided by its norm (one driver lookup). */
  def unitQuery(embeddings: DataFrame, queryVecId: Long): Array[Double] = {
    val q = embeddings.where(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val qn = math.sqrt(dot(q, 0, q, 0, q.length))
    q.map(_ / qn)
  }

  def residual(x: Array[Double], c: Array[Double]): Array[Double] =
    Array.tabulate(x.length)(i => x(i) - c(i))

  /** Fails unless each named count is at least 1. */
  def requirePositive(params: (String, Int)*): Unit =
    params.foreach { case (name, v) => require(v >= 1, s"$name must be >= 1, got $v") }

  // ------------------------------------------------------------ packing

  /** Packs one block — THE id-sort / flatten / self-dot-norm fold every
    * blocked kernel shares. A vector whose length differs from the block's
    * first row fails the pack, naming both vec_ids and lengths.
    */
  def packBlock(bid: Int, rows: Array[(Long, Array[Double])]): VecBlock = {
    val sorted = rows.sortBy(_._1)
    val n = sorted.length
    val dim = if (n == 0) 0 else sorted(0)._2.length
    val ids = new Array[Long](n)
    val flat = new Array[Double](n * dim)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val (id, v) = sorted(i)
      requireSameLength(id, v.length, sorted(0)._1, dim)
      ids(i) = id
      System.arraycopy(v, 0, flat, i * dim, dim)
      norms(i) = math.sqrt(dot(flat, i * dim, flat, i * dim, dim))
      i += 1
    }
    VecBlock(bid, ids, flat, norms, dim)
  }

  /** One unpacked row as a one-row block (its array is not copied). */
  def row(id: Long, v: Array[Double]): VecBlock =
    VecBlock(0, Array(id), v, Array(math.sqrt(dot(v, 0, v, 0, v.length))), v.length)

  private def requireSameLength(id: Long, len: Int, refId: Long, refLen: Int): Unit =
    require(len == refLen,
      s"vector length mismatch: vec_id $id has $len values, vec_id $refId has $refLen")

  /** (vec_id: long, v: array<double>) rows of an embeddings table. */
  def vectors(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("v"))

  /** One packed block per block id of (block id, vec_id, vector) rows. */
  def pack(rows: DataFrame): Dataset[VecBlock] = {
    import rows.sparkSession.implicits._
    rows.as[(Int, Long, Array[Double])].groupByKey(_._1)
      .mapGroups((bid, it) => packBlock(bid, it.map(t => (t._2, t._3)).toArray))
  }

  /** One member block per IVF cell of `assigned` (vec_id, cluster). */
  def cellBlocks(embeddings: DataFrame, assigned: DataFrame): Dataset[VecBlock] =
    pack(vectors(embeddings).join(assigned, "vec_id")
      .select(col("cluster"), col("vec_id"), col("v")))

  // ---------------------------------------------------------- pair loop

  /** Receives every pair [[pairLoop]] scores: row `i` of `a`, row `j` of `b`. */
  abstract class PairSink {
    def pair(a: VecBlock, i: Int, b: VecBlock, j: Int, cos: Double): Unit
  }

  /** Modes of [[pairLoop]]: the upper triangle j > i of one block; every
    * (i, j) whose ids differ; every (i, j).
    */
  final val Upper = 0
  final val SkipSelf = 1
  final val AllPairs = 2

  /** THE pair loop: the cosine of a's row i against b's row j, row-major. */
  def pairLoop(a: VecBlock, b: VecBlock, mode: Int, sink: PairSink): Unit = {
    if (a.ids.nonEmpty && b.ids.nonEmpty) requireSameLength(b.ids(0), b.dim, a.ids(0), a.dim)
    val dim = a.dim
    var i = 0
    while (i < a.ids.length) {
      var j = if (mode == Upper) i + 1 else 0
      while (j < b.ids.length) {
        if (mode != SkipSelf || a.ids(i) != b.ids(j))
          sink.pair(a, i, b, j, dot(a.flat, i * dim, b.flat, j * dim, dim) / (a.norms(i) * b.norms(j)))
        j += 1
      }
      i += 1
    }
  }

  /** Threshold sink: the pairs of `mode` with cos >= threshold, as
    * (lower id, higher id, cos).
    */
  def pairsAbove(a: VecBlock, b: VecBlock, mode: Int,
      threshold: Double): Iterator[(Long, Long, Double)] = {
    val out = ArrayBuffer.empty[(Long, Long, Double)]
    pairLoop(a, b, mode, new PairSink {
      def pair(a: VecBlock, i: Int, b: VecBlock, j: Int, cos: Double): Unit =
        if (cos >= threshold) {
          val x = a.ids(i); val y = b.ids(j)
          out += (if (x < y) (x, y, cos) else (y, x, cos))
        }
    })
    out.iterator
  }

  /** Max sink: the highest cosine seen and its a-side id; ties keep the
    * first, i.e. the lowest a row.
    */
  final class MaxCos extends PairSink {
    var cos = Double.NegativeInfinity
    var id = 0L
    def pair(a: VecBlock, i: Int, b: VecBlock, j: Int, c: Double): Unit =
      if (c > cos) { cos = c; id = a.ids(i) }
  }

  /** Worst-first ordering for bounded top heaps: lowest cos, then HIGHEST
    * id — the inverse of the result order (cos desc, id asc).
    */
  val WorstFirst: Ordering[(Double, Long)] =
    Ordering.by((t: (Double, Long)) => (-t._1, t._2))

  /** Bounded-heap insert under the shared (cos desc, id asc) result law. */
  def heapPush(h: PriorityQueue[(Double, Long)], cap: Int, cos: Double, id: Long): Unit = {
    if (cap > 0) {
      if (h.size < cap) h.enqueue((cos, id))
      else {
        val (wc, wid) = h.head
        if (cos > wc || (cos == wc && id < wid)) { h.dequeue(); h.enqueue((cos, id)) }
      }
    }
  }

  /** Bounded-heap sink: `caps.length` top heaps per row of `a`, and per row
    * of `b` unless `b` is null (`b eq a` shares a's heaps); `slot(cos)`
    * picks the heap a pair lands in, -1 for none, and heap s keeps at most
    * `caps(s)` entries.
    */
  final class TopHeaps(a: VecBlock, b: VecBlock, caps: Array[Int], slot: Double => Int)
      extends PairSink {
    private val w = caps.length
    private def heaps(n: Int) = Array.fill(n * w)(PriorityQueue.empty[(Double, Long)](WorstFirst))
    private val ha = heaps(a.ids.length)
    private val hb = if (b == null) null else if (b eq a) ha else heaps(b.ids.length)

    def pair(x: VecBlock, i: Int, y: VecBlock, j: Int, cos: Double): Unit = {
      val s = slot(cos)
      if (s >= 0) {
        heapPush(ha(i * w + s), caps(s), cos, y.ids(j))
        if (hb != null) heapPush(hb(j * w + s), caps(s), cos, x.ids(i))
      }
    }

    /** (row id, neighbour id, cos, heap slot) of every kept entry. */
    def rows: Iterator[(Long, Long, Double, Int)] = {
      def emit(hs: Array[PriorityQueue[(Double, Long)]], ids: Array[Long]) =
        hs.iterator.zipWithIndex.flatMap { case (h, x) =>
          h.iterator.map { case (c, id) => (ids(x / w), id, c, x % w) }
        }
      emit(ha, a.ids) ++ (if (hb == null || (hb eq ha)) Iterator.empty else emit(hb, b.ids))
    }
  }

  /** Heap sink with one heap per row: the `k` nearest neighbours of a's
    * rows, and of b's rows too when `both`, over the pairs of `mode`, as
    * (row id, neighbour id, cos).
    */
  def topK(a: VecBlock, b: VecBlock, mode: Int, both: Boolean,
      k: Int): Iterator[(Long, Long, Double)] = {
    val heaps = new TopHeaps(a, if (!both) null else if (mode == Upper) a else b, Array(k), _ => 0)
    pairLoop(a, b, mode, heaps)
    heaps.rows.map(t => (t._1, t._2, t._3))
  }

  // ----------------------------------------------------------- pairings

  /** The exact block grid: vectors hash into `blocks` blocks by vec_id
    * (default max(8, parallelism)) and each of the B(B+1)/2 block pairs
    * a.bid <= b.bid is one task running `kernel(a, b)`; a block meets
    * itself once, for the upper triangle.
    */
  def gridPairs[T: Encoder](embeddings: DataFrame, blocks: Int)(
      kernel: (VecBlock, VecBlock) => Iterator[T]): Dataset[T] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val nb = if (blocks > 0) blocks else math.max(8, spark.sparkContext.defaultParallelism)
    val packed = pack(embeddings.select(pmod(col("vec_id"), lit(nb)).cast("int"),
      col("vec_id"), col("embedding").cast("array<double>")))
    packed.as("a").joinWith(packed.as("b"), $"a.bid" <= $"b.bid", "inner")
      .repartition(nb)
      .flatMap { case (a, b) => kernel(a, b) }
  }

  /** Grid mode of a block pair: the upper triangle when a block meets itself. */
  def gridMode(a: VecBlock, b: VecBlock): Int = if (a.bid == b.bid) Upper else AllPairs

  /** The IVF probe fan-out: each vector probes its `nprobe` nearest cells
    * (L2 between its unit vector and the centroids, the assignment
    * metric); the vectors probing one cell form one probe block, which
    * meets that cell's member block in one task running `kernel(p, m)`.
    */
  def probePairs[T: Encoder](embeddings: DataFrame, assigned: DataFrame,
      centers: Array[Array[Double]], nprobe: Int)(
      kernel: (VecBlock, VecBlock) => Iterator[T]): Dataset[T] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centers)
    val probes = pack(vectors(embeddings).as[(Long, Array[Double])].mapPartitions { it =>
      val cs = bc.value
      it.flatMap { case (id, v) => nearestN(cs, unit(v), nprobe).iterator.map(c => (c, id, v)) }
    }.toDF("cluster", "vec_id", "v"))
    probes.as("p").joinWith(cellBlocks(embeddings, assigned).as("m"), $"p.bid" === $"m.bid", "inner")
      .flatMap { case (p, m) => kernel(p, m) }
  }

  /** Per-`key` top-k cut of (key, nb, c) candidates: rank by c desc then nb,
    * keep rank <= k, round cos to 4 dp.
    */
  def rankCut(cand: DataFrame, key: String, nb: String, k: Int): DataFrame =
    cand.withColumn("rank", row_number().over(
        Window.partitionBy(col(key)).orderBy(col("c").desc, col(nb))))
      .where(col("rank") <= k)
      .select(col(key), col(nb), round(col("c"), 4).as("cos"), col("rank").cast("long").as("rank"))

  // ------------------------------------------------------- quantizers

  /** L2-normalized (vec_id, nv) rows, normalized by Spark expressions. */
  def unitRows(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    embeddings.select(col("vec_id").cast("long").as("vec_id"), transform(v, x => x / norm).as("nv"))
  }

  /** The bounded deterministic training sample: the `max` rows of
    * [[unitRows]] with the lowest vec_id hash (TakeOrdered: per-partition
    * top-k + driver merge, no full shuffle). The bound does not grow with
    * the corpus, so training cost is constant at any scale.
    */
  def trainingSample(unitRows: DataFrame, max: Int): Array[Array[Double]] = {
    import unitRows.sparkSession.implicits._
    val sample = unitRows.orderBy(xxhash64(col("vec_id"))).limit(max)
      .select("nv").as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "empty training sample")
    sample
  }

  /** Seeded driver-side Lloyd's over a bounded sample: min(k, n) initial
    * centroids drawn by the seeded RNG; an empty cluster reseeds to a random
    * sample point. `spherical` re-normalizes each updated centroid (Dhillon
    * & Modha, "Concept Decompositions for Large Sparse Text Data Using
    * Clustering", ML 2001) for clustering unit vectors by cosine.
    */
  def lloyd(sample: Array[Array[Double]], k: Int, seed: Long, iters: Int,
      spherical: Boolean): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    val dim = sample(0).length
    val kk = math.min(k, n)
    val centers = Array.fill(kk)(sample(rnd.nextInt(n)).clone())
    val assign = new Array[Int](n)
    var round = 0
    while (round < iters) {
      // assignment is the O(n·k·dim) term and every element is independent
      // (each i writes only assign(i)) — a parallel loop is bit-identical
      // to the serial one at any thread count. At the documented
      // C ∝ corpus rule this step would otherwise serialize the whole op:
      // C=320 × 16384 samples measured ~10 s single-core per training,
      // flattening the 8→32-core scaling of the IVF family's probes.
      // The RNG-consuming reseed path stays in the serial update below.
      java.util.stream.IntStream.range(0, n).parallel()
        .forEach(i => assign(i) = nearest(centers, sample(i)))
      val sums = Array.ofDim[Double](kk, dim)
      val cnt = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val c = assign(i)
        cnt(c) += 1
        val x = sample(i)
        var j = 0
        while (j < dim) { sums(c)(j) += x(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (cnt(c) == 0) centers(c) = sample(rnd.nextInt(n)).clone()
        else {
          val s = sums(c)
          var j = 0
          while (j < dim) { s(j) /= cnt(c); j += 1 }
          if (spherical) {
            val nrm = math.sqrt(dot(s, 0, s, 0, dim))
            if (nrm > 0) { j = 0; while (j < dim) { s(j) /= nrm; j += 1 } }
          }
          centers(c) = s
        }
        c += 1
      }
      round += 1
    }
    centers
  }

  /** Product-quantizer codebooks: `m` contiguous subspaces of the sample,
    * book j a plain Lloyd's over subspace j seeded `seed + j`, padded with
    * copies of its centroid 0 to `k` entries so every code byte is a
    * valid index. Returns m × k × (dim/m).
    */
  def trainBooks(sample: Array[Array[Double]], m: Int, k: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val slice = sample.map(x => java.util.Arrays.copyOfRange(x, j * sub, (j + 1) * sub))
      val book = lloyd(slice, k, seed + j, iters = 10, spherical = false)
      if (book.length < k) book ++ Array.fill(k - book.length)(book(0).clone()) else book
    }
  }

  /** One code byte per subspace: the nearest centroid of each book. */
  def pqCode(books: Array[Array[Array[Double]]], x: Array[Double]): Array[Byte] = {
    val sub = books(0)(0).length
    Array.tabulate(books.length)(j => nearest(books(j), x, j * sub, sub).toByte)
  }

  /** ADC lookup table of `q`: entry j·k + c is the squared distance of q's
    * subspace j to centroid c of book j.
    */
  def adcTable(books: Array[Array[Array[Double]]], q: Array[Double]): Array[Double] = {
    val kCent = books(0).length
    val sub = books(0)(0).length
    val lut = new Array[Double](books.length * kCent)
    for (j <- books.indices; c <- 0 until kCent)
      lut(j * kCent + c) = sqDist(books(j)(c), 0, q, j * sub, sub)
    lut
  }

  /** ADC scan of (vec_id, code, lookup table) rows: the `rerank` rows with
    * the lowest summed table distance, as (distance, vec_id), in a bounded
    * max-heap. The query's own row is skipped, so it takes no heap slot.
    */
  def adcScan(rows: Iterator[(Long, Array[Byte], Array[Double])], kCent: Int,
      rerank: Int, queryId: Long): Iterator[(Double, Long)] = {
    val heap = new PriorityQueue[(Double, Long)]()(Ordering.by[(Double, Long), Double](_._1))
    rows.foreach { case (id, code, l) => if (id != queryId) {
      var s = 0.0
      var j = 0
      while (j < code.length) { s += l(j * kCent + (code(j) & 0xff)); j += 1 }
      if (heap.size < rerank) heap.enqueue((s, id))
      else if (s < heap.head._1) { heap.dequeue(); heap.enqueue((s, id)) }
    }}
    heap.iterator
  }
}
