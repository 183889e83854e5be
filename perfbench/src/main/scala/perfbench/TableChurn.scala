package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

import graft.sources.MergeTable

/** `table_churn`: one client in a closed loop running a seeded
  * [[MergeTable]] operation sequence over a keyed content-hash table —
  * mergeLite and deleteLite batches on both sides of the 1000-key
  * literal budget, point, full and change-feed reads, and a `maintain`
  * once a cycle. An in-memory model of the
  * sequence is what the table is checked against. */
final class TableChurn(spark: SparkSession, seed: Long, work: File)
    extends Workload(spark, seed, work) {
  import TableChurn._

  private val text = new Text(new Random(seed * 13 + 1), Vocabulary)
  private val initial: Seq[TRow] = {
    val r = new Random(seed * 13 + 2)
    Seq.fill(Rows)(row(r, key(r), 0))
  }
  private val initialById = initial.map(x => x.id -> x).toMap
  private val rng = new Random(seed * 13 + 3)
  private val model = mutable.HashMap.empty[String, TRow]
  private val live = new LiveSet[String]
  private var path = ""
  private var version = 1L
  private var rev = 0
  private var earlySum: Seq[Long] = Nil
  private val failures = mutable.ArrayBuffer.empty[String]

  private def key(r: Random): String = f"${r.nextLong()}%016x"
  private def row(r: Random, id: String, rev: Int): TRow =
    TRow(id, text.doc(r, 20 + r.nextInt(20)), rev, Array.fill(EmbDim)(r.nextGaussian().toFloat))

  private def toDF(rows: Seq[TRow]): DataFrame = {
    import spark.implicits._
    rows.map(x => (x.id, x.body, x.rev, x.emb)).toDF("id", "body", "rev", "emb")
  }

  private def checksum(df: DataFrame): Seq[Long] = {
    val h = pmod(xxhash64(col("id"), col("body"), col("rev")), lit(1000000007L))
    val r = df.agg(count(lit(1)), sum(h)).head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def setup(round: Int): Unit = {
    model.clear(); live.clear()
    initial.foreach { x => model(x.id) = x; live += x.id }
    path = dir(s"table-$round")
    version = MergeTable.init(spark, path, toDF(initial)).version
  }

  /** Every operation kind once, with two-key batches. */
  def warmup(): Unit = {
    earlySum = checksum(MergeTable.readAt(spark, path, 1L))
    rev = -1
    val s = Seq(readKey(), readFull(), merge("merge_lite_small", 2),
      delete("delete_lite_small", 2), changes(), maintain(),
      read("snapshot")(MergeTable.snapshot(spark, path)))
    if (s.exists(_.failed)) throw new IllegalStateException("warm-up failed")
  }

  private def write(kind: String)(f: => MergeTable.MergeStats): Sample =
    op(kind, write = true, units = 1L) {
      val st = Trace.span(s"sources.$kind")(f)
      Trace.count("sources.files_rewritten", st.filesRewritten)
      Trace.count("sources.files_written", st.filesWritten)
      version = st.version
    }

  private def merge(kind: String, n: Int): Sample = {
    val updated = live.sample(rng, n / 2)
    val fresh = Seq.fill(n - updated.size)(key(rng))
    val batch = (updated ++ fresh).map(id => row(rng, id, rev))
    val s = write(kind)(MergeTable.mergeLite(spark, path, toDF(batch), Seq("id")))
    if (!s.failed) batch.foreach { x => model(x.id) = x; live += x.id }
    s
  }

  private def delete(kind: String, n: Int): Sample = {
    val ids = live.sample(rng, n)
    val keys = { import spark.implicits._; ids.toDF("id") }
    val s = write(kind)(MergeTable.deleteLite(spark, path, keys, Seq("id")))
    if (!s.failed) ids.foreach { id => model.remove(id); live -= id }
    s
  }

  private def maintain(): Sample = op("maintain", write = true, units = 1L) {
    val rep = Trace.span("sources.maintain")(MergeTable.maintain(spark, path, Policy))
    rep.folded.foreach { st =>
      Trace.count("sources.files_rewritten", st.filesRewritten)
      Trace.count("sources.files_written", st.filesWritten)
    }
    version = rep.endVersion
  }

  private def read(kind: String)(f: => Unit): Sample =
    op(kind, write = false, units = 1L)(Trace.span(s"sources.$kind")(f))

  private def readKey(): Sample = {
    val k = if (rng.nextDouble() < 0.9) live.random(rng) else key(rng)
    var got: Array[Row] = Array.empty
    val s = read("read_key") {
      got = MergeTable.read(spark, path).filter(col("id") === k)
        .select("id", "body", "rev").collect()
    }
    val want = model.get(k).map(x => (x.id, x.body, x.rev)).toSeq
    if (!s.failed && got.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq != want)
      failures += s"read_key $k returned ${got.length} rows, not the model's"
    s
  }

  private def readFull(): Sample = {
    var n = -1L
    val s = read("read_full") { n = checksum(MergeTable.read(spark, path)).head }
    if (!s.failed && n != model.size) failures += s"read_full counted $n rows, model has ${model.size}"
    s
  }

  /** The change feed over the last [[ChangeWindow]] versions. */
  private def changes(): Sample = {
    val from = math.max(1L, version - ChangeWindow)
    read("changes")(MergeTable.changesBetween(spark, path, from, version, Seq("id")).count())
  }

  /** One cycle of thirty operations in two halves. Each half: eight
    * point reads, a full read, a change-feed read, a snapshot read, a
    * small delete and a small merge; then the first half adds a large
    * merge and another small merge, the second a large delete and a
    * `maintain`. */
  def cycle(n: Int): Seq[Sample] = {
    rev = n + 1 // initial rows have rev 0
    Seq(0, 1).flatMap { half =>
      Seq(
        () => readKey(), () => readKey(), () => merge("merge_lite_small", SmallBatch),
        () => readKey(), () => readKey(), () => readFull(), () => readKey(), () => changes(),
        () => readKey(), () => delete("delete_lite_small", SmallBatch / 2), () => readKey(),
        () => read("snapshot")(MergeTable.snapshot(spark, path)), () => readKey(),
        () => if (half == 0) merge("merge_lite_large", LargeMerge)
              else delete("delete_lite_large", LargeDelete),
        () => if (half == 0) merge("merge_lite_small", SmallBatch) else maintain()
      ).map(_())
    }
  }

  def finish(): Outcome = {
    val stored = MergeTable.read(spark, path).select("id", "body", "rev").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    if (stored != model.map { case (k, x) => k -> (x.body, x.rev) }.toMap)
      failures += s"final read has ${stored.size} rows, model has ${model.size}; contents differ"
    if (checksum(MergeTable.readAt(spark, path, 1L)) != earlySum)
      failures += "readAt(1) changed during the run"
    // the change feed since version 1 must be exactly the model's changed rows
    val feed = MergeTable.changesBetween(spark, path, 1L, version, Seq("id"))
      .select("id", "body", "rev").collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val want = model.values.filter(x => !initialById.get(x.id).exists(_.rev == x.rev))
      .map(x => (x.id, x.body, x.rev)).toSet
    if (feed != want)
      failures += s"changesBetween(1, $version) has ${feed.size} rows, model expects ${want.size}"
    val recall = if (want.isEmpty) 1.0 else (feed & want).size.toDouble / want.size
    Outcome(failures.toSeq.distinct.take(20), recall,
      bytesUnder(path).toDouble / math.max(1, model.size),
      Seq(("change_feed_recall", recall, "ratio"), ("versions", version.toDouble, "count")))
  }

  override def layerState(): Map[String, Double] = {
    val p = MergeTable.rowLevelPressure(spark, path)
    Map(
      "sources.rowlevel_rows" -> p.rowLevelRows.toDouble,
      "sources.rowlevel_files" -> (p.deltaFiles + p.tombstoneFiles).toDouble,
      "sources.base_files" -> MergeTable.describe(spark, path).baseFiles.toDouble,
      "sources.manifest_bytes" -> bytesUnder(new File(path, "_manifests").getPath).toDouble)
  }

  def kernelInputs: (Seq[String], Seq[Array[Float]]) =
    (initial.take(KernelRows).map(_.body), initial.take(KernelRows).map(_.emb))
}

object TableChurn {
  final case class TRow(id: String, body: String, rev: Int, emb: Array[Float])

  // generator and operation parameters (recorded in README.md)
  val Rows = 30000
  val Vocabulary = 2000
  val EmbDim = 16
  val SmallBatch = 200
  val LargeMerge = 1500
  val LargeDelete = 1200
  val ChangeWindow = 4L
  val KernelRows = 5000
  val Policy = MergeTable.MaintenancePolicy(
    foldAtTombstoneRows = Some(3000L),
    compactAtFiles = Some(48), compactSortCol = Some("id"), compactTargetFiles = Some(4))
}
