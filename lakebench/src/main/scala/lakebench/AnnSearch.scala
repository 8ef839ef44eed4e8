package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{IvfPq, Similarity}

/** Build once, probe many: each iteration trains and encodes an IVF-PQ
  * index over a Gaussian-mixture corpus (`IvfPq.build`, default 16 cells
  * and 8 sub-quantizers) and answers fixed query batches through
  * `IvfPq.topK` at its sublinear operating point. Exact neighbours come
  * from `Similarity.bruteForceTopK`, once, in set-up. */
object AnnSearch extends Workload {

  val CorpusRows = 10000
  val Dim = 64
  val Batches = 8
  val BatchQueries = 100
  val K = 10
  /** Recall@10 every iteration must reach (0.883 measured at seed 1 when
    * the benchmark was defined). */
  val RecallFloor = 0.8

  def frame(spark: SparkSession, first: Long, vs: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    vs.toSeq.zipWithIndex.map { case (v, i) => (first + i, v.toSeq) }.toDF("id", "vec")
  }

  def setUp(ctx: Ctx): Instance = new Instance {
    val spark: SparkSession = ctx.spark
    val path: String = ctx.dir.resolve("corpus").toString
    frame(spark, 0L, Gen.vectors(ctx.seed, "ann-corpus", CorpusRows, Dim))
      .write.parquet(path)
    val corpus: DataFrame = spark.read.parquet(path).persist()
    corpus.count()
    val queries: IndexedSeq[DataFrame] = {
      val qs = Gen.vectors(ctx.seed, "ann-queries", Batches * BatchQueries, Dim)
      (0 until Batches).map(b => frame(spark, 10000000L + b * BatchQueries,
        qs.slice(b * BatchQueries, (b + 1) * BatchQueries)).persist())
    }
    val truth: Map[Long, Set[Long]] = queries.flatMap(q =>
      Similarity.bruteForceTopK(corpus, q, "id", "vec", K).collect()
        .map(r => r.getLong(0) -> r.getLong(1)))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }

    def rowsPerIteration: Long = Batches * BatchQueries

    def iteration(i: Int): Unit = {
      val (index, encoded) = ctx.op("build", "ext.ivfpqBuild") {
        IvfPq.build(corpus, "id", "vec", Dim) }
      var hits = 0
      queries.foreach { q =>
        val got = ctx.op("read", "ext.ivfpqTopK") {
          IvfPq.topK(encoded, corpus, q, index, "id", "vec", K, nprobe = 4,
            shortlist = 50).collect() }
        hits += got.count(r => truth(r.getLong(0)).contains(r.getLong(1)))
      }
      val total = Batches * BatchQueries * K
      ctx.rec.note("recall_hits", hits)
      ctx.rec.note("recall_total", total)
      ctx.check(f"iteration $i: recall@$K ${hits.toDouble / total}%.3f >= $RecallFloor") {
        hits.toDouble / total >= RecallFloor }
    }

    override def close(): Unit = { corpus.unpersist(); queries.foreach(_.unpersist()) }
  }
}
