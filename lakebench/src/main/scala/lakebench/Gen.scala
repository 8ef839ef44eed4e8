package lakebench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the four workloads. Everything here is
  * plain Scala on the driver: the same (seed, batch) always yields the
  * same inputs, whatever the Spark layout, and the planted defects and
  * near-duplicates come with exact counts and an exact answer key. */
object Gen {

  /** Independent stream per (seed, purpose, batch). */
  def rng(seed: Long, salt: String, batch: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong *
      0xBF58476D1CE4E5B9L ^ batch * 0x94D049BB133111EBL)

  /** `k` distinct values of [0, n), in draw order (partial Fisher-Yates). */
  def sample(r: SplittableRandom, n: Int, k: Int): Array[Int] = {
    require(k <= n, s"cannot draw $k distinct of $n")
    val a = Array.tabulate(n)(identity)
    for (i <- 0 until k) {
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k)
  }

  // ------------------------------------------------------------ medallion

  /** Rows of one bronze batch that carry a planted defect. Row-level
    * defects (blank amount, unparseable timestamp, status outside its
    * enum) must be quarantined; a duplicate id copies the id of a clean
    * row and must show up in the uniqueness check instead. */
  final case class DefectPlan(
      blankAmount: Set[Int],
      badTimestamp: Set[Int],
      badStatus: Set[Int],
      duplicateOf: Map[Int, Int]) {
    def quarantined: Set[Int] = blankAmount ++ badTimestamp ++ badStatus
  }

  /** ~`rate` of `rows` split evenly over the four defect kinds; the rows
    * are pairwise disjoint and every duplicate targets its own clean row. */
  def defectPlan(seed: Long, batch: Int, rows: Int,
      rate: Double = 0.02): DefectPlan = {
    val each = math.round(rows * rate / 4).toInt
    val picked = sample(rng(seed, "defects", batch), rows, 5 * each)
    def slice(k: Int): Array[Int] = picked.slice(k * each, (k + 1) * each)
    DefectPlan(slice(0).toSet, slice(1).toSet, slice(2).toSet,
      slice(3).zip(slice(4)).toMap)
  }

  // ------------------------------------------------------------------ cdc

  val Statuses: Array[String] =
    Array("COMPLETED", "PENDING", "FAILED", "REVERSED")

  def txnKey(i: Int): String = f"TXN$i%09d"

  /** One versioned-table row; `amountCents` is exact. */
  final case class Txn(id: Int, customer: Int, merchant: Int,
      amountCents: Long, status: Int, seq: Int)

  def baseTxn(r: SplittableRandom, id: Int, merchants: Int): Txn =
    Txn(id, r.nextInt(10000), r.nextInt(merchants),
      1L + r.nextLong(5000000L), r.nextInt(Statuses.length), 0)

  /** The bootstrap rows of the CDC table: ids 0 until `rows`. */
  def cdcBase(seed: Long, rows: Int, merchants: Int): Array[Txn] = {
    val r = rng(seed, "cdc-base")
    Array.tabulate(rows)(i => baseTxn(r, i, merchants))
  }

  /** CDC batch `b` (1-based) against a table whose ids are
    * 0 until `liveIds`: `inserts` new ids right after the live range and
    * `rows - inserts` distinct updates skewed toward the newest ids.
    * Updates rewrite amount and status, and one in ten also moves the row
    * to another merchant. `current(id)` gives the row being updated. */
  def cdcBatch(seed: Long, b: Int, rows: Int, inserts: Int, liveIds: Int,
      merchants: Int, current: Int => Txn): Array[Txn] = {
    val r = rng(seed, "cdc-batch", b)
    val ins = Array.tabulate(inserts)(j =>
      baseTxn(r, liveIds + j, merchants).copy(seq = b))
    val seen = mutable.HashSet.empty[Int]
    val upd = mutable.ArrayBuffer.empty[Txn]
    while (upd.size < rows - inserts) {
      val id = skewedId(r, liveIds)
      if (seen.add(id)) {
        val old = current(id)
        upd += old.copy(
          merchant = if (r.nextInt(10) == 0) r.nextInt(merchants) else old.merchant,
          amountCents = 1L + r.nextLong(5000000L),
          status = r.nextInt(Statuses.length), seq = b)
      }
    }
    ins ++ upd
  }

  /** An id in [0, liveIds) skewed toward the newest: the recent end of
    * the key range is where updates and lookups concentrate. */
  def skewedId(r: SplittableRandom, liveIds: Int): Int = {
    val u = r.nextDouble()
    math.min(liveIds - 1, (liveIds * (1.0 - u * u * u)).toInt)
  }

  // --------------------------------------------------------------- corpus

  /** Pronounceable pseudo-words: a fixed vocabulary, so that only the
    * seed decides which docs share shingles. */
  val Vocab: Array[String] = {
    val on = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "z", "ch", "st")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    val co = Array("", "n", "r", "s", "l")
    (for (a <- on; b <- nu; c <- on; d <- nu; e <- co)
      yield a + b + c + d + e).distinct.take(4000)
  }

  final case class Doc(id: Long, text: String)

  def randomDoc(r: SplittableRandom, id: Long): Doc =
    Doc(id, Array.fill(90 + r.nextInt(31))(Vocab(r.nextInt(Vocab.length)))
      .mkString(" "))

  /** One or two single-word substitutions: the copy keeps a word 3-shingle
    * Jaccard of at least 0.87 with its source (90+ words, ≤ 6 shingles
    * touched), well above the 0.8 near-dup threshold. */
  def edit(r: SplittableRandom, text: String): String = {
    val w = text.split(' ')
    for (_ <- 0 to r.nextInt(2)) {
      val p = r.nextInt(w.length)
      var s = w(p)
      while (s == w(p)) s = Vocab(r.nextInt(Vocab.length))
      w(p) = s
    }
    w.mkString(" ")
  }

  def baseCorpus(seed: Long, docs: Int): Array[Doc] = {
    val r = rng(seed, "corpus-base")
    Array.tabulate(docs)(i => randomDoc(r, i.toLong))
  }

  /** A shard with its answer key: `basePairs` (shard id, base id) and
    * `withinPairs` (copy id, source id); every copy has a larger id than
    * its in-shard source, so curation keeps the source. */
  final case class Shard(docs: Array[Doc], basePairs: Seq[(Long, Long)],
      withinPairs: Seq[(Long, Long)])

  val ShardIdBase = 1000000L

  /** Shard `b`: 30% edited copies of distinct base docs, 10% edited
    * copies of distinct novel docs of the same shard, the rest novel. */
  def shard(seed: Long, b: Int, size: Int, base: Array[Doc]): Shard = {
    val r = rng(seed, "corpus-shard", b)
    val nBase = math.round(size * 0.3).toInt
    val nWithin = math.round(size * 0.1).toInt
    val nNovel = size - nBase - nWithin
    val first = ShardIdBase * (b + 1)
    val baseSrc = sample(r, base.length, nBase)
    val copies = baseSrc.zipWithIndex.map { case (s, j) =>
      Doc(first + j, edit(r, base(s).text)) }
    val novel = Array.tabulate(nNovel)(j => randomDoc(r, first + nBase + j))
    val withinSrc = sample(r, nNovel, nWithin)
    val within = withinSrc.zipWithIndex.map { case (s, j) =>
      Doc(first + nBase + nNovel + j, edit(r, novel(s).text)) }
    Shard(copies ++ novel ++ within,
      copies.indices.map(j => (copies(j).id, base(baseSrc(j)).id)),
      within.indices.map(j => (within(j).id, novel(withinSrc(j)).id)))
  }

  /** Exact Jaccard of two docs' word 3-shingle sets (the dedup operators'
    * shingling: whitespace tokens of the lowercased text). */
  def jaccard3(a: String, b: String): Double = {
    def sh(t: String): Set[String] =
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val union = (x union y).size
    if (union == 0) 0.0 else (x intersect y).size.toDouble / union
  }

  // ------------------------------------------------------------------ ann

  /** Unit vectors from a mixture of `clusters` tight Gaussian blobs
    * (about twenty corpus rows each at the benchmark's size, so each
    * query's ten nearest neighbours share its blob). `salt` picks the
    * draw: the corpus and the queries are separate draws from the same
    * mixture. */
  def vectors(seed: Long, salt: String, n: Int, dim: Int,
      clusters: Int = 1000, spread: Double = 0.15): Array[Array[Double]] = {
    val cr = rng(seed, "ann-centres")
    val centres = Array.fill(clusters, dim)(cr.nextGaussian())
    val r = rng(seed, salt)
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      val v = Array.tabulate(dim)(d => c(d) + spread * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
  }
}
