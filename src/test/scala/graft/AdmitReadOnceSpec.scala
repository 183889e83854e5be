package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.operators.{Dedup, DedupIndex, ImageDedupIndex, SemanticIndex, SimHashIndex}
import graft.util.Checkpoints

/** Every admission entry point reads its batch ONCE: the upstream of
  * the batch (here a parquet scan behind a nondeterministic counting
  * filter, which Spark can neither fold nor share between queries) is
  * evaluated no more often than one materialization of the reduced
  * batch, however many scans the probe and the survivor join make.
  * The survivors (NULL-id pass-through, one row per id, incumbents
  * and smaller ids winning) are pinned alongside, and no checkpoint
  * the gate takes outlives it. */
class AdmitReadOnceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `df` written to parquet and read back through a filter that
    * bumps the returned accumulator once per row it evaluates. */
  private def counted(df: DataFrame): (DataFrame, LongAccumulator) = {
    val dir = freshDir("admit_read_once") + "/batch"
    df.write.parquet(dir)
    val acc = spark.sparkContext.longAccumulator
    val tick = udf(() => { acc.add(1); true }).asNondeterministic()
    (spark.read.parquet(dir).filter(tick()), acc)
  }

  /** Runs `admit` over a counted copy of `batch`; checks its survivors
    * (the `show` columns as strings, sorted) and that it evaluated the
    * upstream no more than one materialization of the reduced batch. */
  private def readsOnce(batch: DataFrame, idCol: String, show: Seq[String],
      expected: Seq[String])(admit: DataFrame => DataFrame): Unit = {
    val (in, acc) = counted(batch)
    val reduced = Dedup.onePerKeyNullsKept(in, idCol).localCheckpoint(true)
    val once = acc.value
    Checkpoints.free(reduced)
    assert(once === batch.count(), "one materialization reads each row once")
    acc.reset()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val admitted = admit(in)
    val evals = acc.value.longValue
    try {
      val got = admitted.select(show.map(c => col(c).cast("string")): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(got === expected)
      assert(evals <= once,
        s"admit evaluated the batch upstream $evals times, one materialization is $once")
    } finally Checkpoints.free(admitted)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(leaked.isEmpty, s"admit left RDDs persisted: $leaked")
  }

  test("DedupIndex.admit reads its batch once") {
    val path = freshDir("dedup_index") + "/idx"
    DedupIndex.build(spark, path,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Seq[(Option[Long], String)](
      (Some(0L), "alpha beta gamma delta epsilon eta"),            // dup of incumbent 1
      (Some(5L), "completely novel content about streaming joins here"),
      (Some(6L), "completely novel content about streaming joins there"), // dup of 5
      (Some(7L), "seven has two rows and only one of them stays"),
      (Some(7L), "seven has two rows and only one of them stays v2"),
      (Some(9L), "nothing like anything else in corpus or batch"),
      (Some(11L), null),                                             // NULL text passes
      (None, "alpha beta gamma delta epsilon eta"),                 // NULL ids pass
      (None, "alpha beta gamma delta epsilon eta"))
      .toDF("doc_id", "text")
    readsOnce(batch, "doc_id", Seq("doc_id", "text"), Seq(
      "11|null",
      "5|completely novel content about streaming joins here",
      "7|seven has two rows and only one of them stays v2",
      "9|nothing like anything else in corpus or batch",
      "null|alpha beta gamma delta epsilon eta",
      "null|alpha beta gamma delta epsilon eta")) {
      DedupIndex.admit(spark, path, _, "doc_id", "text", threshold = 0.5)
    }
  }

  test("SemanticIndex.admit reads its batch once") {
    val path = freshDir("sem_index") + "/idx"
    val c = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("cluster", "centroid")
    SemanticIndex.build(spark, path,
      Seq((1L, Array(1f, 0f, 0f, 0f))).toDF("id", "vec"), "id", "vec", c)
    val batch = Seq[(Option[Long], Option[Array[Float]])](
      (Some(10L), Some(Array(1f, 0.001f, 0f, 0f))),    // dup of incumbent 1
      (Some(20L), Some(Array(0.8f, 0f, 0.6f, 0f))),    // in-batch ball ...
      (Some(21L), Some(Array(0.79f, 0f, 0.613f, 0f))), // ... the outlier stays
      (Some(30L), Some(Array(0f, 1f, 0f, 0f))),
      (Some(50L), Some(Array(0f, 0.6f, 0f, 0.8f))),    // two rows, one stays
      (Some(50L), Some(Array(0f, 0.8f, 0f, 0.6f))),
      (Some(40L), None),                               // NULL vec passes
      (None, Some(Array(1f, 0f, 0f, 0f))))             // NULL id passes
      .toDF("id", "vec")
    readsOnce(batch, "id", Seq("id", "vec"), Seq(
      "21|[0.79, 0.0, 0.613, 0.0]",
      "30|[0.0, 1.0, 0.0, 0.0]",
      "40|null",
      "50|[0.0, 0.6, 0.0, 0.8]",
      "null|[1.0, 0.0, 0.0, 0.0]")) {
      SemanticIndex.admit(spark, path, _, "id", "vec", tau = 0.999)
    }
  }

  private val fpA = 0L
  private val fpB = -1L
  private val fpC = 0x00ff00ff00ff00ffL

  test("ImageDedupIndex.admit reads its batch once") {
    val path = freshDir("image_dedup_index") + "/idx"
    ImageDedupIndex.build(spark, path, Seq((5L, fpA)).toDF("id", "fp"), "id", "fp")
    val batch = Seq[(Option[Long], Option[Long])](
      (Some(201L), Some(fpA)),        // dup of incumbent 5
      (Some(202L), Some(fpB)),
      (Some(203L), Some(fpB ^ 1L)),   // dup of 202
      (Some(205L), Some(fpC)),        // two rows, one stays
      (Some(205L), Some(fpC ^ 1L)),
      (Some(204L), None),             // NULL fp passes
      (None, Some(fpA)))              // NULL id passes
      .toDF("img_id", "fp")
    readsOnce(batch, "img_id", Seq("img_id", "fp"), Seq(
      s"202|$fpB", s"204|null", s"205|$fpC", s"null|$fpA")) {
      ImageDedupIndex.admit(spark, path, _, "img_id", "fp")
    }
  }

  test("ImageDedupIndex.admitImages reads its batch once") {
    val path = freshDir("image_dedup_index") + "/idx"
    val (w0, h0, b0) = TestImages.img(5)
    ImageDedupIndex.buildFromImages(spark, path,
      Seq((5L, w0, h0, b0)).toDF("img_id", "w", "h", "rgb"),
      "img_id", "w", "h", "rgb")
    val (wN, hN, bN) = TestImages.img(40)
    val (wP, hP, bP) = TestImages.img(41)
    val (wQ, hQ, bQ) = TestImages.img(42)
    val batch = Seq[(Option[Long], Int, Int, Array[Byte])](
      (Some(201L), w0, h0, b0),               // dup of incumbent 5
      (Some(202L), wN, hN, bN),
      (Some(203L), wN, hN, bN),               // dup of 202
      (Some(205L), wP, hP, bP),               // two rows, one stays
      (Some(205L), wQ, hQ, bQ),
      (Some(204L), 5, 5, Array[Byte](1, 2, 3)), // un-hashable: passes
      (None, w0, h0, b0))                     // NULL id passes
      .toDF("img_id", "w", "h", "rgb")
    readsOnce(batch, "img_id", Seq("img_id", "w", "h"), Seq(
      s"202|$wN|$hN", "204|5|5", s"205|$wQ|$hQ", s"null|$w0|$h0")) {
      ImageDedupIndex.admitImages(spark, path, _, "img_id", "w", "h", "rgb")
    }
  }

  test("SimHashIndex.admit reads its batch once") {
    val path = freshDir("simhash_index") + "/idx"
    def family(f: Int): String = (0 until 25).map(j => s"w${f}_$j").mkString(" ")
    SimHashIndex.build(spark, path, Seq((5L, family(5))).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Seq[(Option[Long], String)](
      (Some(201L), family(5)),            // dup of incumbent 5
      (Some(202L), family(7)),
      (Some(203L), family(7)),            // dup of 202
      (Some(205L), family(8)),            // two rows, one stays
      (Some(205L), family(9)),
      (Some(204L), null),                 // NULL text passes
      (None, family(5)))                  // NULL id passes
      .toDF("doc_id", "text")
    readsOnce(batch, "doc_id", Seq("doc_id", "text"), Seq(
      s"202|${family(7)}", "204|null", s"205|${family(9)}", s"null|${family(5)}")) {
      SimHashIndex.admit(spark, path, _, "doc_id", "text")
    }
  }
}
