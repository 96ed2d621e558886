package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The LLM-data operators: near-duplicate curation and vector search.
  *
  * Inputs (all from the seed): a documents-shaped corpus of word texts in
  * eight shards of 300 documents, written as parquet over 2 × cpus files
  * so it spans several input splits. Each shard holds base documents plus
  * planted near-copies at known word-3-gram Jaccard levels (0.95 / 0.9 /
  * 0.85 above the 0.8 threshold; 0.7 / 0.5 below it). A write is one
  * curation pass over one shard: `Dedup.minhashLshPairs` →
  * `Dedup.connectedComponentsStar` → the kept documents written out as
  * parquet. Each pass is followed by six reads; a read is one batch of 32
  * queries through `Similarity.ivfTopKIndexed` over an embeddings table
  * whose centroids and index are built during set-up. */
final class LlmCurate(seed: Long, cpus: Int) extends Workload {
  import LlmCurate._

  private val rng = new SplittableRandom(seed)
  private var spark: SparkSession = _
  private var dir: String = _
  private var corpus: DataFrame = _
  private var vecs: DataFrame = _
  private var cents: DataFrame = _
  private var index: DataFrame = _

  // model
  private var shardDocs: Map[Int, Map[Long, Set[String]]] = Map.empty // shard -> doc -> shingles
  private var textBytes: Map[Long, Long] = Map.empty
  private var planted: Map[Int, Seq[(Long, Long)]] = Map.empty // shard -> pairs >= threshold
  private var centers: Array[Array[Float]] = Array.empty
  private var keptBytes = Map.empty[Int, Long]
  private var found = 0L
  private var expected = 0L
  private var shardOrder: Iterator[Int] = Iterator.empty
  private var nextQ = 0L

  // layer accounting
  private val candidatePrecision = mutable.Map.empty[Int, Double]
  private val componentRounds = mutable.Map.empty[Int, Double]

  private def dupRecall: Double = if (expected == 0) 1.0 else found.toDouble / expected

  override def info: Map[String, String] = Map("dup_recall" -> dupRecall.toString)

  override def setup(s: SparkSession, d: String): Unit = {
    spark = s
    dir = d
    keptBytes = Map.empty; found = 0L; expected = 0L; nextQ = 0L
    candidatePrecision.clear(); componentRounds.clear()
    val fr = new SplittableRandom(seed ^ 0xc0ffeeL)
    val session = spark; import session.implicits._

    // corpus: base documents plus planted near-copies, per shard
    val docs = mutable.ArrayBuffer.empty[(Long, Int, String)]
    val sh = mutable.Map.empty[Int, Map[Long, Set[String]]]
    val pl = mutable.Map.empty[Int, Seq[(Long, Long)]]
    val tb = mutable.Map.empty[Long, Long]
    var id = 0L
    for (shard <- 0 until Shards) {
      val here = mutable.Map.empty[Long, Set[String]]
      val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
      for (b <- 0 until BasePerShard) {
        val words = Array.fill(60 + fr.nextInt(80))(word(fr))
        val baseId = id; id += 1
        docs += ((baseId, shard, words.mkString(" ")))
        here(baseId) = shingles(words)
        if (b % 2 == 0) {
          val level = Levels(fr.nextInt(Levels.length))
          val copy = words.clone()
          // replace a share of the tokens; each replacement breaks up to 3 shingles
          val edits = math.max(1, ((1 - level) / (1 + level) * words.length / 3 * 2).round.toInt)
          (0 until edits).foreach(_ => copy(fr.nextInt(copy.length)) = word(fr))
          val copyId = id; id += 1
          docs += ((copyId, shard, copy.mkString(" ")))
          here(copyId) = shingles(copy)
          if (jaccard(here(baseId), here(copyId)) >= Threshold) pairs += ((baseId, copyId))
        }
      }
      sh(shard) = here.toMap
      pl(shard) = pairs.toSeq
    }
    shardDocs = sh.toMap
    docs.foreach { case (d, _, t) => tb(d) = t.getBytes("UTF-8").length.toLong }
    textBytes = tb.toMap
    planted = pl.toMap
    docs.toSeq.toDF("doc_id", "shard", "text").repartition(2 * cpus)
      .write.mode("overwrite").parquet(s"$dir/corpus")
    corpus = spark.read.parquet(s"$dir/corpus")

    // embeddings around seeded centers; k-means centroids and the IVF index
    centers = Array.fill(Clusters)(Array.fill(Dim)((fr.nextDouble() * 2 - 1).toFloat))
    val vs = (0 until Vectors).map { i =>
      val c = centers(fr.nextInt(Clusters))
      (i.toLong, c.map(x => (x + 0.35 * Gen.gaussian(fr)).toFloat))
    }
    vs.toDF("id", "vec").repartition(2 * cpus).write.mode("overwrite").parquet(s"$dir/embeddings")
    vecs = spark.read.parquet(s"$dir/embeddings")
    val init = centers.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("cluster", "centroid")
    val refined = Similarity.kmeans(vecs, "id", "vec", Dim, init, iters = 2).collect()
      .map(r => (r.getAs[Number]("cluster").intValue(), r.getSeq[Double](2).toArray))
    cents = refined.toSeq.toDF("cluster", "centroid")
    index = Similarity.assignNearest(vecs, "id", "vec", cents).persist()
    index.count()
  }

  private def word(r: SplittableRandom): String = {
    // log-uniform rank over the vocabulary: a few common words, a long tail
    val rank = (math.exp(r.nextDouble() * math.log(Vocab.toDouble)) - 1).toInt
    "w" + Integer.toString(rank, 36)
  }

  private def nextShard(): Int = {
    if (!shardOrder.hasNext) {
      val order = (0 until Shards).toArray
      for (i <- order.indices.reverse) {
        val k = rng.nextInt(i + 1); val t = order(i); order(i) = order(k); order(k) = t
      }
      shardOrder = order.iterator
    }
    shardOrder.next()
  }

  private def curate(ctx: Ctx): Unit = {
    val shard = nextShard()
    val model = shardDocs(shard)
    val docs = corpus.filter(col("shard") === shard).select("doc_id", "text")
    ctx.write("curate_pass", model.size) {
      val pairs = ctx.span("operators.minhash_lsh")(
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, threshold = Threshold))
      val pairList = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val (labels, rounds) = ctx.span("operators.components")(Dedup.connectedComponentsStar(pairs))
      val kept = docs.join(labels.filter(col("doc_id") =!= col("cluster_id")), Seq("doc_id"), "left_anti")
      ctx.span("curate.write")(kept.write.mode("overwrite").parquet(s"$dir/curated/shard=$shard"))
      (pairList, labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }.foreach { case (pairs, labels, rounds) =>
      val id = ctx.ops.last.id
      componentRounds(id) = rounds.toDouble
      // every reported pair is a true pair: exact Jaccard from the model
      val exact = pairs.map { case (a, b, j) => (a, b, j, jaccard(model(a), model(b))) }
      val wrong = exact.filter { case (_, _, j, e) => e < Threshold || math.abs(j - e) > 1e-4 }
      ctx.check(wrong.isEmpty, s"shard $shard: ${wrong.length} pairs disagree with exact Jaccard, e.g. ${wrong.headOption}")
      val got = pairs.map(p => (p._1, p._2)).toSet
      val want = planted(shard)
      found += want.count(got.contains)
      expected += want.length
      val split = want.filter { case (a, b) => !labels.get(a).contains(labels.getOrElse(b, -1L)) }
      ctx.check(split.isEmpty, s"shard $shard: planted pairs in different components: ${split.take(3)}")
      val keptDocs = model.size - labels.count { case (d, c) => d != c }
      keptBytes += shard -> model.keys.filter(d => !labels.get(d).exists(_ != d)).map(textBytes).sum
      if (ctx.ops.last.traced) candidatePrecision(id) = precision(docs, model)
      ctx.check(keptDocs > 0, s"shard $shard: curation kept no documents")
    }
  }

  /** LSH candidate pairs (band-bucket collisions of the operator's own
    * public index) whose exact Jaccard clears the threshold ÷ candidates. */
  private def precision(docs: DataFrame, model: Map[Long, Set[String]]): Double = {
    val idx = Dedup.lshIndex(docs, "doc_id", "text", n = 3)
    val cands = idx.as("x").join(idx.as("y"), col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (cands.isEmpty) 1.0
    else cands.count { case (a, b) => jaccard(model(a), model(b)) >= Threshold }.toDouble / cands.length
  }

  /** A query batch: the same number of queries near every cluster center,
    * so every batch probes the same mix of cluster sizes. */
  private def queries(): Seq[(Long, Array[Float])] =
    (0 until QueryBatch).map { i =>
      nextQ += 1
      val c = centers(i % Clusters)
      (nextQ, c.map(x => (x + 0.5 * Gen.gaussian(rng)).toFloat))
    }

  private def ivfBatch(ctx: Ctx, verify: Boolean): Unit = {
    val session = spark; import session.implicits._
    val q = queries().toDF("q_id", "q_vec")
    ctx.read("ivf_topk") {
      ctx.span("operators.ivf_topk")(Similarity.ivfTopKIndexed(q, index, cents, K, NProbe).collect())
    }.foreach { rows =>
      val byQ = rows.groupBy(_.getLong(0))
      ctx.check(byQ.size == QueryBatch && byQ.values.forall(_.length == K),
        s"ivf batch returned ${byQ.size} queries with sizes ${byQ.values.map(_.length).toSet}")
      if (verify) {
        // at nprobe = every cluster the index search is exact
        def ranked(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val full = ranked(Similarity.ivfTopKIndexed(q, index, cents, K, Clusters))
        val brute = ranked(Similarity.bruteForceTopK(q, vecs, K))
        ctx.check(full == brute, s"ivf at nprobe=$Clusters differs from bruteForceTopK in ${(full diff brute).size} rows")
      }
    }
  }

  /** No curation pass before timing: a pass costs most of a round, so the
    * first of a run's two passes runs on a cold JVM, the same in every run. */
  override def warmup(ctx: Ctx): Unit = ivfBatch(ctx, verify = false)

  override def round(ctx: Ctx, r: Int): Unit = {
    curate(ctx)
    (0 until ReadsPerPass).foreach(i => ivfBatch(ctx, verify = i == 0 && r % 2 == 0))
  }

  override def nominalRoundS: Double = 9.0
  override def writeTailPct: Double = 50.0
  override def readTailPct: Double = 50.0

  override def finish(ctx: Ctx): Unit = {
    val n = spark.read.parquet(s"$dir/curated").count()
    ctx.verify(n > 0, "curated output is empty")
    ctx.verify(dupRecall >= 1.0, s"dup_recall $dupRecall below its recorded value 1.0")
  }

  override def storageAmp: Double =
    Dirs.sizeUnder(s"$dir/curated").toDouble / math.max(1L, keptBytes.values.sum)

  override def layerMetrics(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double] =
    Map(
      "operators.minhash_lsh.ms" -> Layer.spanMs(ctx, "operators.minhash_lsh"),
      "operators.components.ms" -> Layer.spanMs(ctx, "operators.components"),
      "operators.components.rounds" -> Stats.mean(traced.flatMap(o => componentRounds.get(o.id))),
      "operators.lsh.candidate_precision" -> Stats.mean(traced.flatMap(o => candidatePrecision.get(o.id))),
      "operators.lsh.dup_recall" -> dupRecall,
      "operators.ivf_topk.ms" -> Layer.spanMs(ctx, "operators.ivf_topk"))
}

object LlmCurate {
  val Shards = 8
  val BasePerShard = 200
  val Vocab = 20000
  val Levels = Seq(0.95, 0.9, 0.85, 0.7, 0.5)
  val Threshold = 0.8
  val Clusters = 16
  val Dim = 64
  val Vectors = 4000
  val QueryBatch = 32
  val K = 10
  val NProbe = 3
  val ReadsPerPass = 6

  def shingles(words: Array[String]): Set[String] =
    if (words.length < 3) Set.empty else words.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size
}
