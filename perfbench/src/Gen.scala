package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Seeded counter-based randomness: every generated value is a pure
  * function of (seed, stream, index), so any row can be regenerated in
  * the benchmark process to derive the closed-form expectations. */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, a: Long = 0L, b: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ stream) ^ a) ^ b)
  def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)
  def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
  def gaussian(seed: Long, stream: Long, a: Long, b: Long): Double = {
    val u1 = math.max(unit(hash(seed, stream, a, 2 * b)), 1e-300)
    val u2 = unit(hash(seed, stream, a, 2 * b + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

/** Seeded affine bijection of [0, n). */
final case class Perm(n: Long, a: Long, b: Long) {
  def apply(p: Long): Long = Math.floorMod(Math.multiplyExact(a, p) + b, n)
}
object Perm {
  def seeded(n: Long, seed: Long, salt: Long): Perm = {
    require(n >= 1 && n < (1L << 31), s"permutation domain $n out of range")
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1 + Rng.below(Rng.hash(seed, salt), math.max(1L, n - 1))
    while (gcd(a, n) != 1) a += 1
    Perm(n, a, Rng.below(Rng.hash(seed, salt, 1), n))
  }
}

final case class Event(event_id: Long, user_id: Long, ts: Long,
    category: String, page: String)
final case class Doc(doc_id: Long, text: String)
final case class Vec(id: Long, vec: Array[Double])

/** Clickstream log. User u (of `users`) makes n(u) = max(1, hot/(u+1))
  * events, a Zipf(1) skew whose top user holds about 1/ln(users) of the
  * log. Event (u, j) has time j·T/n(u) + d(u), category index
  * (7u + 5j + s1) mod K over a fixed list and page index
  * (3u + j + s2) mod P over a lexicon the scan discovers. Rows are
  * written in a seeded permuted order so users interleave in every
  * file. Every count below follows from that construction. */
final case class SparseGen(seed: Long, users: Int, hot: Long) {
  val K = 24
  val P = 40
  val T = 86400L
  val W: Long = T / 2
  val D = 600L
  val cats: Seq[String] = (0 until K).map(k => f"cat$k%02d")
  val pages: Seq[String] = (0 until P).map(k => f"pg$k%03d")
  private val s1 = Rng.below(Rng.hash(seed, 4), K)
  private val s2 = Rng.below(Rng.hash(seed, 5), P)

  def n(u: Int): Long = math.max(1L, hot / (u + 1))
  val offsets: Array[Long] = {
    val o = new Array[Long](users + 1)
    var u = 0
    while (u < users) { o(u + 1) = o(u) + n(u); u += 1 }
    o
  }
  val total: Long = offsets(users)
  private val eventPerm = Perm.seeded(total, seed, 1)
  private val userPerm = Perm.seeded(users, seed, 2)
  def userId(u: Int): Long = userPerm(u)
  def d(u: Int): Long = Rng.below(Rng.hash(seed, 3, u), D)
  /** Users whose id falls in the sliced range [sliceLo, sliceHi]. */
  val sliceLo = 0L
  val sliceHi: Long = users / 50 - 1L

  private def userOf(i: Long): Int = {
    val k = java.util.Arrays.binarySearch(offsets, i)
    if (k >= 0) k else -k - 2
  }
  private def catIx(u: Int, j: Long): Int = ((7L * u + 5L * j + s1) % K).toInt
  private def pageIx(u: Int, j: Long): Int = ((3L * u + j + s2) % P).toInt

  def event(p: Long): Event = {
    val i = eventPerm(p)
    val u = userOf(i)
    val j = i - offsets(u)
    Event(p, userId(u), j * T / n(u) + d(u), cats(catIx(u, j)), pages(pageIx(u, j)))
  }

  def write(spark: SparkSession, path: String, files: Int): Unit = {
    import spark.implicits._
    spark.range(0L, total, 1L, files).as[Long]
      .mapPartitions(_.map(event)).write.mode("overwrite").parquet(path)
  }

  /** Events of user u before the window split W. */
  def early(u: Int): Long = {
    val x = (W - d(u)) * n(u)
    math.min(n(u), (x + T - 1) / T)
  }

  /** Counts per label index of `len` consecutive steps over a cycle of
    * `size` labels starting at `start` with stride `step` (coprime). */
  private def cycleCounts(start: Long, step: Long, len: Long, size: Int): Array[Long] = {
    val c = Array.fill(size)(len / size)
    var j = 0L
    while (j < len % size) { c(((start + step * j) % size).toInt) += 1; j += 1 }
    c
  }

  /** The closed-form expectations of one pipeline pass. */
  lazy val expected: SparseExpect = {
    var n1, nnz1, nnz2, nnzCat, nnzPage = 0L
    var sliceUsers, sliceCells, sliceSum = 0L
    var hash = 0L
    var u = 0
    while (u < users) {
      val nu = n(u); val e = early(u)
      n1 += e
      nnz1 += math.min(e, K); nnz2 += math.min(nu - e, K)
      nnzCat += math.min(nu, K); nnzPage += math.min(nu, P)
      val uid = userId(u)
      if (uid >= sliceLo && uid <= sliceHi) {
        sliceUsers += 1
        sliceCells += math.min(nu, K) + math.min(nu, P)
        sliceSum += 2 * nu
      }
      val cc = cycleCounts(7L * u + s1, 5, nu, K)
      val pc = cycleCounts(3L * u + s2, 1, nu, P)
      var k = 0
      while (k < K) { if (cc(k) > 0) hash ^= cellHash(uid, cats(k), cc(k).toDouble); k += 1 }
      k = 0
      while (k < P) { if (pc(k) > 0) hash ^= cellHash(uid, pages(k), pc(k).toDouble); k += 1 }
      u += 1
    }
    SparseExpect(total, n1, nnz1, total - n1, nnz2, nnzCat, nnzPage,
      sliceUsers, sliceCells, sliceSum, hash)
  }

  /** Spark's xxhash64(user_id, col, value) of one cell. */
  def cellHash(user: Long, label: String, value: Double): Long = {
    var h = XXH64.hashLong(user, 42L)
    h = XXH64.hashUTF8String(UTF8String.fromString(label), h)
    XXH64.hashLong(java.lang.Double.doubleToLongBits(value), h)
  }
}

final case class Overlap(docs: Set[Long], probes: Long, items: Long)

final case class SparseExpect(events: Long, early: Long, earlyNnz: Long,
    late: Long, lateNnz: Long, nnzCat: Long, nnzPage: Long,
    sliceUsers: Long, sliceCells: Long, sliceSum: Long, cellXor: Long) {
  def cells: Long = nnzCat + nnzPage
}

/** Document corpus. Tokens are ids drawn 30% from 50 common ids (the
  * first five render as English stopwords) and 70% uniformly from the
  * rest of a `vocab`-id vocabulary; each id renders through a seeded
  * bijection onto token strings, so two seeds share no rare token.
  * Layout by generator index i (the stored doc_id is a seeded
  * permutation of i):
  *  - i < 3·clusters: cluster i/3 = original, exact copy, and near copy
  *    with one token replaced (3-shingle Jaccard ≥ 0.85 at ≥ 40 tokens);
  *  - the next `leaks` docs each carry one whole eval passage;
  *  - the rest are independent. */
final case class DocGen(seed: Long, docs: Int, clusters: Int, leaks: Int,
    evalDocs: Int) {
  require(3 * clusters + leaks <= docs && leaks <= evalDocs)
  val vocab = 20000
  val common = 50
  val passageLen = 30
  private val stops = Array("the", "a", "and", "of", "to")
  private val tokPerm = Perm.seeded(vocab, seed, 11)
  private val idPerm = Perm.seeded(docs, seed, 12)

  def token(t: Int): String =
    if (t < stops.length) stops(t) else "w" + java.lang.Long.toString(tokPerm(t), 36)
  private def rare(x: Long): Int = common + Rng.below(x, vocab - common).toInt
  private def raw(i: Long): Array[Int] = {
    val len = 40 + Rng.below(Rng.hash(seed, 22, i), 81).toInt
    Array.tabulate(len) { k =>
      val x = Rng.hash(seed, 21, i, k)
      if (Rng.unit(x) < 0.3) Rng.below(Rng.hash(seed, 27, i, k), common).toInt else rare(x)
    }
  }
  def passage(e: Long): Array[Int] =
    Array.tabulate(passageLen)(k => rare(Rng.hash(seed, 23, e, k)))

  def tokens(i: Long): Array[Int] =
    if (i < 3L * clusters) {
      val c = i / 3
      val base = raw(3 * c)
      if (i % 3 == 2) {
        val m = Rng.below(Rng.hash(seed, 24, c), base.length).toInt
        val t = rare(Rng.hash(seed, 25, c))
        base(m) = if (t == base(m)) common + (t - common + 1) % (vocab - common) else t
      }
      base
    } else if (i < 3L * clusters + leaks) {
      val r = raw(i)
      val at = Rng.below(Rng.hash(seed, 26, i), r.length + 1).toInt
      r.take(at) ++ passage(i - 3L * clusters) ++ r.drop(at)
    } else raw(i)

  def docId(i: Long): Long = idPerm(i)
  def doc(i: Long): Doc = Doc(docId(i), tokens(i).map(token).mkString(" "))
  def evalDoc(e: Long): Doc = Doc(e, passage(e).map(token).mkString(" "))

  def write(spark: SparkSession, path: String, files: Int): Unit = {
    import spark.implicits._
    spark.range(0L, docs.toLong, 1L, files).as[Long]
      .mapPartitions(_.map(doc)).write.mode("overwrite").parquet(path)
  }
  def writeEval(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, evalDocs.toLong, 1L, 1).as[Long]
      .mapPartitions(_.map(evalDoc)).write.mode("overwrite").parquet(path)
  }

  /** Near-duplicate pairs (lo, hi): every pair inside a cluster. */
  lazy val nearPairs: Set[(Long, Long)] = (0 until clusters).iterator.flatMap { c =>
    val ids = (0 until 3).map(r => docId(3L * c + r)).sorted
    Seq((ids(0), ids(1)), (ids(0), ids(2)), (ids(1), ids(2)))
  }.toSet
  lazy val leakIds: Set[Long] = (0 until leaks).map(l => docId(3L * clusters + l)).toSet
  /** Docs that share a word n-gram with an eval passage, exact from
    * the token ids (the leaks, and any chance overlap); the number of
    * distinct n-grams the corpus docs hold (the probes a
    * decontamination filter answers) and of distinct eval n-grams (the
    * items it holds). */
  def overlap(n: Int): Overlap = overlaps.getOrElseUpdate(n, {
    val evalGrams = (0L until evalDocs.toLong).flatMap(e => passage(e).sliding(n).map(_.toSeq)).toSet
    val hit = Set.newBuilder[Long]
    var probes = 0L
    var i = 0L
    while (i < docs) {
      val grams = tokens(i).sliding(n).map(_.toSeq).toSet
      probes += grams.size
      if (grams.exists(evalGrams)) hit += docId(i)
      i += 1
    }
    Overlap(hit.result(), probes, evalGrams.size.toLong)
  })
  private val overlaps = scala.collection.mutable.Map.empty[Int, Overlap]

  /** Docs left after exact and near dedup and after dropping the
    * leaks: each cluster keeps its smallest id (exact dedup keeps the
    * smaller of the two identical copies; near dedup drops the larger
    * id of every pair). */
  lazy val survivors: Set[Long] = {
    val dropped = (0 until clusters).flatMap(c => (0 until 3).map(r => docId(3L * c + r)).sorted.tail)
    (0L until docs.toLong).map(docId).toSet -- dropped -- leakIds
  }
}

/** Clustered vectors: `groups` Gaussian centres in `dim` dimensions,
  * points at centre + 0.35·noise. The first `replicas` points are
  * each a positive multiple of point replicas + i, an identical
  * direction the index must rank first for that point. */
final case class VecGen(seed: Long, n: Int, dim: Int, groups: Int, replicas: Int) {
  private val idPerm = Perm.seeded(n, seed, 35)
  def centre(c: Int): Array[Double] = Array.tabulate(dim)(k => Rng.gaussian(seed, 31, c, k))
  private lazy val centres = Array.tabulate(groups)(centre)
  def raw(i: Long): Array[Double] = {
    val c = centres(Rng.below(Rng.hash(seed, 32, i), groups).toInt)
    Array.tabulate(dim)(k => c(k) + 0.8 * Rng.gaussian(seed, 34, i, k))
  }
  def vector(i: Long): Array[Double] =
    if (i < replicas) {
      val s = 1.5 + Rng.unit(Rng.hash(seed, 33, i))
      raw(replicas + i).map(_ * s)
    } else raw(i)
  def id(i: Long): Long = idPerm(i)

  def write(spark: SparkSession, path: String, files: Int): Unit = {
    import spark.implicits._
    spark.range(0L, n.toLong, 1L, files).as[Long]
      .mapPartitions(_.map(i => Vec(id(i), vector(i))))
      .write.mode("overwrite").parquet(path)
  }
}
