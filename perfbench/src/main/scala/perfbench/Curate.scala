package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Corpus
import graft.operators.{Curation, DedupIndex}
import graft.search.HashEmbedder

/** `curate`: one batch of documents through the `Corpus` chain
  * curate → dedupExact → admitAgainst → lmFilter → filterGopher → pack,
  * ending in a parquet write. Every document belongs to a planted class
  * whose fate is known in advance, which is what the per-stage row
  * counts are checked against. */
final class Curate(spark: SparkSession, seed: Long, work: File)
    extends Workload(spark, seed, work) {
  import Curate._

  private val docs: Seq[Doc] = generate(seed)
  private val incumbents: Seq[(Long, String)] = generateIncumbents(seed)
  private var inPath = ""
  private var indexPath = ""
  private var lastOut = ""
  private var lastRows = Map.empty[String, Long]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def setup(round: Int): Unit = {
    import spark.implicits._
    inPath = dir(s"curate-in-$round")
    indexPath = dir(s"dedup-index-$round")
    val r = new Random(seed)
    r.shuffle(docs).map(d => (d.id, d.text)).toDF("id", "text")
      .repartition(InputFiles).write.parquet(inPath)
    DedupIndex.build(spark, indexPath, incumbents.toDF("id", "text"), "id", "text")
  }

  /** The chain. With `force` (the traced run) each stage's output is
    * materialised inside its span and counted. */
  private def chain(in: Corpus, out: String, force: Boolean): Map[String, Long] = {
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(f: => Corpus): Corpus = Trace.span(s"operators.$name") {
      val c = f
      if (name == "admit") held += c.toDF // admitAgainst returns a checkpointed frame
      if (!force) c
      else {
        val df = c.toDF.localCheckpoint(true)
        held += df
        val n = df.count()
        rows(name) = n
        Trace.count(s"operators.$name.rows_out", n)
        c.copy(df = df)
      }
    }
    try {
      val c1 = stage("curate")(in.curate(Curation.Config(lang = Some("en"), minTokens = MinTokens)))
      val c2 = stage("dedup_exact")(c1.dedupExact())
      val c3 = stage("admit")(c2.admitAgainst(indexPath, Threshold))
      val c4 = stage("lm_filter")(c3.lmFilter(MaxNll))
      val c5 = stage("gopher")(c4.filterGopher())
      val c6 = stage("pack")(c5.pack(SeqLen))
      Trace.span("io.write")(c6.toDF.write.parquet(out))
    } finally held.foreach(graft.util.Checkpoints.free)
    rows.toMap
  }

  /** What a training loader does with the packed output: read one of
    * [[ReadSlices]] slices of it, by pack id. */
  private def readSlice(out: String, i: Int): Int =
    spark.read.parquet(out).filter(col("pack_id") % ReadSlices === i)
      .select("id", "text", "pack_id", "pack_start").collect().length

  /** None: the workload is the batch job a fresh driver runs, so its one
    * pass includes compiling the chain's plans. The set-up rounds have
    * already run the `DedupIndex` build. */
  def warmup(): Unit = ()

  /** One cycle: the chain over the whole batch (a write), then the
    * packed output read back slice by slice (reads). */
  def cycle(n: Int): Seq[Sample] = {
    val out = dir(s"out-$n")
    val force = Trace.enabled
    val w = op("chain", write = true, units = docs.size.toLong) {
      val rows = chain(Corpus(spark.read.parquet(inPath), "id", "text"), out, force)
      if (force) lastRows = rows
    }
    if (!w.failed) lastOut = out
    var read = 0L
    val rs = (0 until ReadSlices).map(i => op("read_packed", write = false, units = 0L) {
      read += readSlice(out, i)
    })
    if (!w.failed && read != expectedRows(docs)("pack"))
      failures += s"the packed output read back as $read rows"
    w +: rs
  }

  /** The untraced run checks the surviving ids; the traced run, whose
    * stages were forced, also checks every stage's row count. */
  def finish(): Outcome = {
    val expected = expectedRows(docs)
    if (lastRows.nonEmpty) Stages.foreach { s =>
      if (lastRows.get(s) != Some(expected(s)))
        failures += s"stage $s rows_out ${lastRows.get(s)} != planted accounting ${expected(s)}"
    }
    val survivors = docs.filter(_.cls.survives).map(_.id).toSet
    val planted = docs.filter(d => d.cls == NearDupIncumbent || d.cls == NearDupBatch).map(_.id)
    var recall = 0.0
    var bytesPerRow = 0.0
    if (lastOut.isEmpty) failures += "no pass completed"
    else {
      val ids = spark.read.parquet(lastOut).select(col("id")).collect().map(_.getLong(0))
      if (ids.length != ids.toSet.size || ids.toSet != survivors)
        failures += s"output ids differ from the planted survivors (${ids.length} rows, " +
          s"${survivors.size} expected)"
      recall = planted.count(id => !ids.contains(id)).toDouble / planted.size
      bytesPerRow = bytesUnder(lastOut).toDouble / math.max(1, ids.length)
    }
    Outcome(failures.toSeq, recall, bytesPerRow, Seq(("dedup_recall", recall, "ratio")))
  }

  def kernelInputs: (Seq[String], Seq[Array[Float]]) = {
    val texts = docs.map(_.text)
    (texts, HashEmbedder(64).embed(texts.take(KernelVectors)))
  }
}

object Curate {
  /** Where a planted document is expected to leave the chain. */
  sealed abstract class Cls(val diesAt: Option[String]) {
    def survives: Boolean = diesAt.isEmpty
  }
  case object Normal extends Cls(None)
  case object ExactCopy extends Cls(Some("curate"))        // curate's sha256 dedup, lowest id wins
  case object Short extends Cls(Some("curate"))            // under MinTokens
  case object Symbols extends Cls(Some("curate"))          // no language
  case object NearDupIncumbent extends Cls(Some("admit"))  // near-copy of an indexed doc
  case object NearDupBatch extends Cls(Some("admit"))      // near-copy of a smaller-id batch doc
  case object Gibberish extends Cls(Some("lm_filter"))     // unseen bigrams
  case object Bullets extends Cls(Some("gopher"))          // every line a bullet

  final case class Doc(id: Long, text: String, cls: Cls)

  val Stages = Seq("curate", "dedup_exact", "admit", "lm_filter", "gopher", "pack")

  // generator parameters (recorded in README.md)
  val Vocabulary = 2000
  val NormalDocs = 1000
  val PerClass = 70
  val IncumbentDocs = 800
  val MinLen = 80
  val MaxLen = 160
  val InputFiles = 4
  val KernelVectors = 1000
  val ReadSlices = 8
  // chain parameters
  val MinTokens = 30
  val Threshold = 0.8
  val MaxNll = 7.5
  val SeqLen = 2048L

  private def text(seed: Long) = new Text(new Random(seed * 31 + 7), Vocabulary)

  def generateIncumbents(seed: Long): Seq[(Long, String)] = {
    val t = text(seed)
    val r = new Random(seed * 31 + 11)
    (0 until IncumbentDocs).map(i => (1000000L + i, t.doc(r, MinLen + r.nextInt(MaxLen - MinLen))))
  }

  def generate(seed: Long): Seq[Doc] = {
    val t = text(seed)
    val inc = generateIncumbents(seed)
    val r = new Random(seed * 31 + 13)
    def len = MinLen + r.nextInt(MaxLen - MinLen)
    val normal = (0 until NormalDocs).map(i => Doc(i.toLong, t.doc(r, len), Normal))
    var next = NormalDocs.toLong
    def add(cls: Cls)(mk: Int => String): Seq[Doc] =
      (0 until PerClass).map { i => next += 1; Doc(next, mk(i), cls) }
    // distinct normal docs serve as exact-copy and near-copy sources
    val sources = r.shuffle(normal.indices.toVector).take(2 * PerClass).map(normal)
    val incSources = r.shuffle(inc.indices.toVector).take(PerClass).map(inc(_)._2)
    normal ++
      add(ExactCopy)(i => sources(i).text) ++
      add(NearDupBatch)(i => t.nearCopy(r, sources(PerClass + i).text.split(" "))) ++
      add(NearDupIncumbent)(i => t.nearCopy(r, incSources(i).split(" "))) ++
      add(Short)(_ => t.doc(r, 5 + r.nextInt(MinTokens / 2))) ++
      add(Symbols)(_ => Text.symbols(r, 20 + r.nextInt(40))) ++
      add(Gibberish)(_ => Text.gibberish(r, len)) ++
      add(Bullets)(_ => (0 until 8 + r.nextInt(6)).map(_ => "- " + t.doc(r, 10 + r.nextInt(6)))
        .mkString("\n"))
  }

  /** Rows each stage should emit: everything minus the classes that
    * die at or before it. */
  def expectedRows(docs: Seq[Doc]): Map[String, Long] =
    Stages.zipWithIndex.map { case (s, i) =>
      s -> docs.count(d => d.cls.diesAt.forall(at => Stages.indexOf(at) > i)).toLong
    }.toMap
}
