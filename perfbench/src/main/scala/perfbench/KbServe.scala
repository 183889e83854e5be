package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.operators.{LexicalIndex, SimilaritySearch}
import graft.search.{Embedder, SearchService}

/** `kb_serve`: one client in a closed loop against a knowledge base
  * served through [[GraftSession]]: IVF vector top-k, hybrid search and
  * BM25 reads, with one request in twelve an upsert or a retract batch. */
final class KbServe(spark: SparkSession, seed: Long, work: File)
    extends Workload(spark, seed, work) {
  import KbServe._

  private val gen = new Gen(seed)
  private val initial = gen.initialDocs
  private var g: GraftSession = _
  private var kbPath = ""
  private var lexPath = ""
  private val rng = new Random(seed * 17 + 3)
  private val model = mutable.HashMap.empty[Long, String]
  private val live = new LiveSet[Long]
  private var nextId = initial.size.toLong
  private val failures = mutable.ArrayBuffer.empty[String]

  private def toDF(docs: Seq[KbDoc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.content, d.embedding)).toDF("id", "content", "embedding")
  }

  def setup(round: Int): Unit = {
    model.clear(); live.clear()
    initial.foreach { d => model(d.id) = d.content; live += d.id }
    kbPath = dir(s"kb-$round")
    lexPath = dir(s"lex-$round")
    g = GraftSession(spark, gen.embedder)
    g.loadKnowledgeBase(toDF(initial))
    g.indexKnowledge(kbPath, nClusters = Clusters, nprobe = Probes, kmeansIters = KmeansIters)
    g.buildLexicalIndex(lexPath)
  }

  /** Ids a read returned that the model does not hold: retracted or
    * never written. */
  private def checkIds(kind: String, q: String, ids: Seq[Long]): Unit = {
    if (ids.size != K) failures += s"$kind '$q' returned ${ids.size} rows"
    ids.filterNot(model.contains).foreach(id => failures += s"$kind '$q' returned dead id $id")
  }

  private def search(kind: String, q: String)(call: => DataFrame): Sample = {
    var ids = Seq.empty[Long]
    val s = op(kind, write = false, units = 1L) {
      val df = Trace.span("session.search_call")(call)
      Trace.span("session.plan")(df.queryExecution.executedPlan)
      ids = Trace.span("session.exec")(df.collect()).map(_.getAs[Long]("id")).toSeq
    }
    if (!s.failed) checkIds(kind, q, ids)
    s
  }

  private def bm25(q: String, terms: Seq[String]): Sample = {
    var ids = Seq.empty[Long]
    val s = op("bm25", write = false, units = 1L) {
      ids = Trace.span("operators.bm25")(
        LexicalIndex.bm25TopK(spark, lexPath, "id", terms, K).collect()).map(_.getAs[Long]("id")).toSeq
    }
    if (!s.failed) checkIds("bm25", q, ids)
    s
  }

  private def upsert(batch: Int): Sample = {
    val updated = live.sample(rng, batch / 2)
    val fresh = (0 until batch / 2).map { _ => nextId += 1; nextId }
    val docs = (updated ++ fresh).map(id => gen.doc(rng, id))
    val df = toDF(docs)
    val s = op("upsert", write = true, units = 1L) {
      Trace.span("session.upsert")(g.upsertIndexedKnowledge(df))
      Trace.span("operators.lexical_upsert")(LexicalIndex.upsert(spark, lexPath, df, "id", "content"))
    }
    docs.foreach { d => model(d.id) = d.content; live += d.id }
    val got = g.knowledgeBase.filter(col("id").isin(docs.map(_.id): _*))
      .select("id", "content").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (got != docs.map(d => d.id -> d.content).toMap)
      failures += s"upsert: ${docs.size} ids written, ${got.size} read back as written"
    s
  }

  private def retract(batch: Int): Sample = {
    val ids = live.sample(rng, batch)
    var removed = -1L
    val s = op("retract", write = true, units = 1L) {
      removed = Trace.span("session.retract")(g.retractDocuments(ids))
    }
    ids.foreach { id => model.remove(id); live -= id }
    val left = g.knowledgeBase.filter(col("id").isin(ids: _*)).count()
    if (removed != ids.size || left != 0)
      failures += s"retract: removed $removed of ${ids.size}, $left still readable"
    s
  }

  private def run(pattern: String, batch: Int): Seq[Sample] = pattern.map { kind =>
    val (q, terms) = gen.query(rng)
    kind match {
      case 'V' => search("search_vector", q)(g.searchKnowledge(q, k = K))
      case 'H' => search("search_hybrid", q)(g.hybridSearchKnowledge(q, k = K))
      case 'B' => bm25(q, terms)
      case 'U' => upsert(batch)
      case 'R' => retract(batch / 2)
    }
  }

  /** One cycle of [[Pattern]]: twenty-four requests, twenty vector, one
    * hybrid, one BM25, one upsert batch and one retract batch. */
  def cycle(n: Int): Seq[Sample] = run(Pattern, UpsertBatch)

  /** Every read kind once. Writes are not warmed: a warm-up write costs
    * as much as a timed one. */
  def warmup(): Unit =
    if (run("VHB", UpsertBatch).exists(_.failed)) throw new IllegalStateException("warm-up failed")

  def finish(): Outcome = {
    val r = new Random(seed * 17 + 7)
    val snapshot = g.knowledgeBase.select("id", "embedding").localCheckpoint(true)
    val recalls = (0 until RecallQueries).map { _ =>
      val (q, _) = gen.query(r)
      val qv = gen.embedder.embed(Seq(SearchService.preprocess(spark, q))).head
      val ivf = g.searchKnowledge(q, k = K).select("id").collect().map(_.getLong(0)).toSet
      val exact = SimilaritySearch.topK(snapshot, "embedding", qv, K)
        .select("id").collect().map(_.getLong(0)).toSet
      (ivf & exact).size.toDouble / K
    }
    graft.util.Checkpoints.free(snapshot)
    val stored = g.knowledgeBase.select("id", "content").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    if (stored != model.toMap)
      failures += s"final KB has ${stored.size} rows, model has ${model.size}; contents differ"
    val recall = Stats.mean(recalls)
    if (recall < MinRecall) failures += s"recall_at_10 $recall below $MinRecall"
    // stored bytes of the served state: superseded files reclaimed first
    g.vacuumIndexedKnowledge(retainMillis = 0L)
    LexicalIndex.vacuum(spark, lexPath, retainMillis = 0L)
    Outcome(failures.toSeq.distinct.take(20), recall,
      (bytesUnder(kbPath) + bytesUnder(lexPath)).toDouble / math.max(1, model.size),
      Seq(("recall_at_10", recall, "ratio")))
  }

  def kernelInputs: (Seq[String], Seq[Array[Float]]) =
    (initial.map(_.content), initial.map(_.embedding))
}

object KbServe {
  final case class KbDoc(id: Long, content: String, embedding: Array[Float])

  // generator and serving parameters (recorded in README.md)
  val Docs = 1200
  val Topics = 32
  val TopicWords = 30
  val Vocabulary = 1500
  val Dim = 64
  val DocNoise = 0.1
  val QueryNoise = 0.05
  val Clusters = 4
  val Probes = 1
  val KmeansIters = 1
  val K = 10
  /** Retract batches are half this. */
  val UpsertBatch = 20
  val Pattern = "VVVVVHVVVVVUVVVVVBVVVVVR"
  val RecallQueries = 5
  val MinRecall = 0.8

  /** Stands in for an embedding model: text is placed near the centroid
    * of the topic its first topic word belongs to. */
  final case class TopicEmbedder(centroids: Array[Array[Float]], topicOf: Map[String, Int])
      extends Embedder {
    def dim: Int = Dim
    def embed(batch: Seq[String]): Seq[Array[Float]] = batch.map { text =>
      val t = text.split("\\s+").iterator.flatMap(topicOf.get).nextOption().getOrElse(0)
      near(centroids(t), new Random(text.hashCode), QueryNoise)
    }
  }

  def near(c: Array[Float], r: Random, noise: Double): Array[Float] = {
    val v = c.map(x => (x + noise * r.nextGaussian()).toFloat)
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  final class Gen(seed: Long) {
    private val r0 = new Random(seed * 17 + 1)
    val centroids: Array[Array[Float]] =
      Array.fill(Topics)(near(Array.fill(Dim)(0f), r0, 1.0))
    private val text = new Text(r0, Vocabulary)
    val topicWords: Array[Array[String]] = {
      val general = text.words.toSet
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Topics * TopicWords) {
        val w = Text.word(r0) + Text.word(r0)
        if (!general.contains(w)) seen += w
      }
      seen.toArray.grouped(TopicWords).toArray
    }
    val embedder = TopicEmbedder(centroids,
      topicWords.zipWithIndex.flatMap { case (ws, t) => ws.map(_ -> t) }.toMap)

    /** A document on a random topic: general text with about three
      * tokens in ten swapped for that topic's words. */
    def doc(r: Random, id: Long): KbDoc = {
      val t = r.nextInt(Topics)
      val toks = text.tokens(r, 60 + r.nextInt(60))
      toks.indices.foreach(i => if (r.nextDouble() < 0.3) toks(i) = topicWords(t)(r.nextInt(TopicWords)))
      KbDoc(id, toks.mkString(" "), near(centroids(t), r, DocNoise))
    }

    def initialDocs: Seq[KbDoc] = {
      val r = new Random(seed * 17 + 2)
      (0 until Docs).map(i => doc(r, i.toLong))
    }

    /** Three distinct words of one topic, as query text and as terms. */
    def query(r: Random): (String, Seq[String]) = {
      val ws = r.shuffle(topicWords(r.nextInt(Topics)).toSeq).take(3)
      (ws.mkString(" "), ws)
    }
  }
}
