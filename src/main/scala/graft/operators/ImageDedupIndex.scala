package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CompositeIndex, MergeTable}

/** Persisted perceptual-hash index for IMAGE near-dup detection AT
  * INGEST — the [[DedupIndex]] analog of the dHash pillar
  * ([[graft.multimodal.Multimodal.imageNearDups]]).
  *
  * `Multimodal.imageNearDups` re-hashes and re-pairs the WHOLE corpus
  * per call: right for a one-shot curation sweep, wrong for the steady
  * state of a growing image corpus, where every incoming batch must
  * answer "is this a near-duplicate of anything we already hold?"
  * before it is admitted (the reference's content-hash gate,
  * `backend/services/vector_service.py:104-125`, generalized from
  * exact bytes to perceptual pixels). At 100 TB the corpus side must
  * be a persisted index probed per batch, never a recomputation —
  * and an image probe must never re-decode the corpus: the index
  * holds only 64-bit hashes.
  *
  *  - `path/bands`  — (id, band, bucket, fp), keyed (id, band): the
  *    4×16-bit banded Hamming table, bit-identical buckets to
  *    [[Dedup.hammingBands]] (shared code — indexed probes and fresh
  *    recomputes MUST collide in the same buckets or recall silently
  *    drops). Unlike the MinHash index there is NO separate
  *    verification store: exact Hamming needs only the two
  *    fingerprints, and every band row carries `fp` — verification is
  *    a bit_count on the already-joined collision rows, zero extra IO.
  *    BUCKET-MAJOR after [[compact]]; bucket BLOOM from [[build]]
  *    (hash-domain buckets defeat min/max stats until the range-sort).
  *  - `path/params` — one row (algo): which 64-bit kernel produced
  *    the fingerprints — any of [[KnownKernels]] (the pixel pair
  *    "dhash64"/"ahash64" served by the image wrappers here, or the
  *    simhash text pair served by [[SimHashIndex]]). Facade wrappers
  *    hash with the PINNED algo, so a caller cannot accidentally
  *    probe a dHash index with aHash (or text) fingerprints; the
  *    fp-frame core surface is kernel-agnostic by design (hashes
  *    computed at ingest travel as data — the 100 TB path never
  *    ships pixels to the index).
  *
  * Both components are [[MergeTable]]s under ONE composite manifest
  * ([[CompositeIndex]] — the [[DedupIndex]] crash/replay, atomicity
  * and single-writer contract, verbatim). Recall contract: at
  * `maxHamming <= 3` the 4×16-bit pigeonhole banding is EXACT — the
  * indexed probe returns the same pair set a fresh
  * [[Dedup.bandedHammingPairs]] over (corpus ∪ batch) reports for
  * pairs touching the batch (spec-pinned).
  *
  * Scale: a probe never shuffles the corpus. The corpus-sized band
  * table is scanned once with `bucket IN` pushed down for small
  * batches (bloom + footer-pruned), joined to the BROADCAST batch
  * bands, and only collision rows reach the bit_count verify. Cost ∝
  * matched buckets + candidate pairs, flat in corpus size.
  */
object ImageDedupIndex {

  private val CI = new CompositeIndex("image dedup index",
    Seq("bands", "params"))

  type Ref = CompositeIndex.Ref
  val Ref = CompositeIndex.Ref

  private def componentPath(path: String, dir: String) =
    CI.componentPath(path, dir)

  private[graft] def bandsPath(spark: SparkSession, path: String): String =
    componentPath(path, pin(spark, path).bands.dir)

  /** One composite index version (see [[DedupIndex.Pin]]). */
  final case class Pin(version: Long, bands: Ref, params: Ref)

  private def toPin(p: CompositeIndex.Pin): Pin =
    Pin(p.version, p("bands"), p("params"))

  def pin(spark: SparkSession, path: String): Pin =
    toPin(CI.pin(spark, path))

  def exists(spark: SparkSession, path: String): Boolean =
    CI.exists(spark, path)

  /** The pinned hash kernel — any member of [[KnownKernels]] (the
    * pixel pair served here, or [[SimHashIndex]]'s text pair); 1-row
    * read. */
  def algo(spark: SparkSession, path: String): String =
    algoAt(spark, path, pin(spark, path))

  private def algoAt(spark: SparkSession, path: String, p: Pin): String =
    MergeTable.readAt(spark, componentPath(path, p.params.dir),
      p.params.version).select(col("algo")).head().getString(0)

  /** Every kernel a band index can pin: the pixel pair served by the
    * image wrappers here, and the text pair served by
    * [[SimHashIndex]] — one validation set so [[build]] accepts any
    * facade's kernel while each facade's hashers stay strict. */
  private[graft] val KnownKernels =
    Set("dhash64", "ahash64", SimHashIndex.Md5Kernel, SimHashIndex.XxKernel)

  private def hashBy(algo: String)(
      w: Column, h: Column, rgb: Column): Column = algo match {
    case "dhash64" => graft.functions.ImageFunctions.dhash64(w, h, rgb)
    case "ahash64" => graft.functions.ImageFunctions.ahash64(w, h, rgb)
    case other if KnownKernels.contains(other) =>
      throw new IllegalArgumentException(
        s"'$other' is a TEXT kernel — this index serves documents; " +
          "probe it through SimHashIndex, not the image wrappers")
    case other => throw new IllegalArgumentException(
      s"unknown image hash kernel '$other' (dhash64|ahash64)")
  }

  /** (id, fp) from an image frame under `algo` — NULL fps (malformed
    * or sub-grid buffers) EXCLUDED: they carry no perceptual content
    * to be a duplicate of ([[Dedup.exactByContent]]'s NULL-text
    * convention; route byte-level corruption to the sha256 audit). */
  private def hashed(
      images: DataFrame, idCol: String, widthCol: String,
      heightCol: String, rgbCol: String, algo: String): DataFrame =
    images.select(col(idCol).as("id"),
        hashBy(algo)(col(widthCol).cast("int"), col(heightCol).cast("int"),
          col(rgbCol)).as("fp"))
      .filter(col("id").isNotNull && col("fp").isNotNull)

  private def requireFpFrame(hashes: DataFrame, idCol: String,
      fpCol: String): DataFrame =
    hashes.select(col(idCol).as("id"), col(fpCol).cast("long").as("fp"))
      .filter(col("id").isNotNull && col("fp").isNotNull)

  /** Build the index from a fingerprint frame (id unique, fp the
    * 64-bit perceptual hash). CREATE INDEX semantics — fails if one
    * exists; [[buildFromImages]] hashes pixels first. The
    * crash/race/legacy contract is [[DedupIndex.build]]'s, via the
    * same [[CompositeIndex]] machinery. */
  def build(
      spark: SparkSession, path: String, hashes: DataFrame,
      idCol: String, fpCol: String, algo: String = "dhash64"): Unit = {
    require(KnownKernels.contains(algo),
      s"unknown hash kernel '$algo' (${KnownKernels.toSeq.sorted.mkString("|")})")
    CI.requireBuildable(spark, path)
    val fp = requireFpFrame(hashes, idCol, fpCol).localCheckpoint(true)
    try {
      CI.build(spark, path) { dirs =>
        import spark.implicits._
        // independent component writes — overlap them (guide §2.6)
        val (bv, pv) = graft.util.Par.both(
          MergeTable.init(spark, componentPath(path, dirs("bands")),
            Dedup.hammingBands(fp), bloomKeys = Seq("bucket")),
          MergeTable.init(spark, componentPath(path, dirs("params")),
            Seq(algo).toDF("algo")))
        Map("bands" -> bv.version, "params" -> pv.version)
      }
      ()
    } finally graft.util.Checkpoints.free(fp)
  }

  /** [[build]] from raw decoded images: (id, width, height, RGB24). */
  def buildFromImages(
      spark: SparkSession, path: String, images: DataFrame,
      idCol: String, widthCol: String, heightCol: String, rgbCol: String,
      algo: String = "dhash64"): Unit =
    build(spark, path,
      hashed(images, idCol, widthCol, heightCol, rgbCol, algo), "id", "fp",
      algo)

  /** Incrementally admit a fingerprint batch: each id's 4 band rows
    * merge by (id, band) — matched ids fully replaced (the band set
    * per id is fixed), new ids inserted, touched parquet files only.
    * A batch row with NULL fp is a CONTENT RETRACTION ([[DedupIndex
    * .upsert]]'s NULL-text rule): the id's bands DELETE, so dead
    * images stop rejecting future lookalikes. One composite commit
    * publishes; a no-op batch publishes nothing. */
  def upsert(
      spark: SparkSession, path: String, hashes: DataFrame,
      idCol: String, fpCol: String): Unit = {
    val p0 = pin(spark, path)
    val bPath = componentPath(path, p0.bands.dir)
    // ONE materialization of the (id, fp) projection: the retraction
    // collect, the liveness probe and the bands merge all act on it —
    // an expensive upstream (a CDF churn diff, a hash over pixels)
    // must not re-execute per action (review catch)
    val h = hashes.select(col(idCol).as("id"), col(fpCol).cast("long").as("fp"))
      .filter(col("id").isNotNull).localCheckpoint(true)
    try {
      val retracted = h.filter(col("fp").isNull)
        .select(col("id")).distinct().collect().map(_.get(0)).toSeq
      val fp = h.filter(col("fp").isNotNull)
      var bV = p0.bands.version
      // chunked like every bulk id-predicate purge (the isin-literal
      // analysis cliff — [[graft.util.Pushdown.RetractChunk]])
      retracted.grouped(RetractChunk).foreach { chunk =>
        bV = MergeTable.deleteWhere(spark, bPath,
          col("id").isin(chunk: _*)).version
      }
      if (!fp.isEmpty)
        bV = MergeTable.merge(spark, bPath,
          Dedup.hammingBands(fp), Seq("id", "band")).version
      if (bV != p0.bands.version)
        CI.commitPin(spark, path, p0.version + 1, Map(
          "bands" -> Ref(p0.bands.dir, bV), "params" -> p0.params))
    } finally graft.util.Checkpoints.free(h)
  }

  /** Bulk id-predicate chunk size — the shared
    * [[graft.util.Pushdown.RetractChunk]]. */
  private val RetractChunk = graft.util.Pushdown.RetractChunk

  /** [[upsert]] from raw decoded images, hashing with the PINNED
    * kernel. An image whose buffer no longer hashes (NULL payload,
    * malformed, sub-grid) retracts its id — un-hashable content must
    * not keep serving as an incumbent. */
  def upsertImages(
      spark: SparkSession, path: String, images: DataFrame,
      idCol: String, widthCol: String, heightCol: String,
      rgbCol: String): Unit = {
    val a = algo(spark, path)
    upsert(spark, path,
      images.select(col(idCol).as("id"),
        hashBy(a)(col(widthCol).cast("int"), col(heightCol).cast("int"),
          col(rgbCol)).as("fp")).filter(col("id").isNotNull),
      "id", "fp")
  }

  /** Remove ids by FRAME — the scale form of [[delete]]: the purge
    * rides [[MergeTable.deleteLite]] on the exact (id, band) key set
    * (each id owns precisely bands 0..3), an O(keys) tombstone write
    * with NO driver materialization and NO literal predicates — a
    * 10M-key retention purge is one keyed commit, where the isin form
    * would be 2000 discovery scans of the corpus-sized band table
    * (review catch). The tombstones fold at the next [[compact]]. */
  def deleteKeys(
      spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val p0 = pin(spark, path)
    val keyFrame = ids.select(col(idCol).as("id"))
      .filter(col("id").isNotNull).distinct()
      .crossJoin(spark.range(4).select(col("id").cast("int").as("band")))
    if (keyFrame.isEmpty) return
    val bV = MergeTable.deleteLite(spark,
      componentPath(path, p0.bands.dir), keyFrame, Seq("id", "band")).version
    if (bV != p0.bands.version)
      CI.commitPin(spark, path, p0.version + 1, Map(
        "bands" -> Ref(p0.bands.dir, bV), "params" -> p0.params))
  }

  /** Remove ids outright — the purge form of the NULL-fp retraction,
    * for callers that hold only ids. Chunked at [[RetractChunk]], so
    * a bulk backlog degrades to more commits, never a Catalyst-
    * breaking literal list. For id sets that are already a frame (or
    * unbounded), prefer [[deleteKeys]]. */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit = {
    if (ids.isEmpty) return
    val p0 = pin(spark, path)
    var bV = p0.bands.version
    ids.grouped(RetractChunk).foreach { chunk =>
      bV = MergeTable.deleteWhere(spark,
        componentPath(path, p0.bands.dir), col("id").isin(chunk: _*)).version
    }
    if (bV != p0.bands.version)
      CI.commitPin(spark, path, p0.version + 1, Map(
        "bands" -> Ref(p0.bands.dir, bV), "params" -> p0.params))
  }

  /** Range-sort the band files on `bucket` — [[DedupIndex.compact]]'s
    * locality pass (probe scans then prune from footers alone). */
  def compact(spark: SparkSession, path: String, numFiles: Int): Unit = {
    val p0 = pin(spark, path)
    val b = MergeTable.compactTableAt(
      spark, componentPath(path, p0.bands.dir), "bucket", numFiles,
      Some(p0.bands.version))
    CI.commitPin(spark, path, p0.version + 1, Map(
      "bands" -> Ref(p0.bands.dir, b.version), "params" -> p0.params))
  }

  /** Maintenance sweep — [[CompositeIndex.vacuum]]. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int =
    CI.vacuum(spark, path, retainMillis)

  /** Near-duplicate pairs between a fingerprint `batch` and the
    * indexed corpus (and, with `includeBatchPairs`, within the batch)
    * — the admission probe. Returns (id_a, id_b, hamming) with
    * id_a < id_b, hamming <= `maxHamming` (<= 3, the pigeonhole
    * exactness bound), bit-identical to [[Dedup.bandedHammingPairs]]
    * over (corpus ∪ batch) restricted to pairs touching the batch.
    *
    * A batch id already in the index is a REPLACEMENT: its stale
    * corpus copy is excluded from pairing (a re-hashed image must not
    * collide with its own previous version). Plan shape: batch bands
    * compute once (checkpointed, broadcast); the corpus band scan dies
    * in the broadcast join on (band, bucket), with `bucket IN` pushed
    * to parquet for small probes; verification is one bit_count over
    * the collision rows — both fps are already in hand, no second
    * component read (the structural win over the MinHash index). */
  def nearDupsAgainst(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int = 3,
      includeBatchPairs: Boolean = true,
      idPushLimit: Int = 1000): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4x16-bit banding recall guarantee (<=3)")
    val p0 = pin(spark, path)
    val fpB = requireFpFrame(batch, idCol, fpCol)
    val bandsB = Dedup.hammingBands(fpB).localCheckpoint(true)
    try {
      val buckets = graft.util.Pushdown.keyLiterals(bandsB, "bucket", idPushLimit)
      val corpusScan0 = MergeTable.readAt(
        spark, componentPath(path, p0.bands.dir), p0.bands.version)
      val corpusScan = buckets match {
        case Some(bs) => corpusScan0.filter(col("bucket").isin(bs: _*))
        case None => corpusScan0
      }
      // ALL batch ids from the RAW batch: a NULL-fp row (retraction in
      // flight) must still exclude its stale corpus copy from pairing
      val batchIdF = batch.select(col(idCol).as("id"))
        .filter(col("id").isNotNull).distinct()
      val candCB = corpusScan
        .select(col("band"), col("bucket"),
          col("id").as("cid"), col("fp").as("cfp"))
        .join(broadcast(bandsB.select(col("band"), col("bucket"),
          col("id").as("bid"), col("fp").as("bfp"))), Seq("band", "bucket"))
        .join(broadcast(batchIdF.withColumnRenamed("id", "cid")),
          Seq("cid"), "left_anti")
        .withColumn("hamming", bit_count(col("cfp").bitwiseXOR(col("bfp"))))
        .filter(col("hamming") <= maxHamming)
        .select(least(col("cid"), col("bid")).as("id_a"),
          greatest(col("cid"), col("bid")).as("id_b"), col("hamming"))
      // the in-batch pair set is its own checkpoint: freed once the
      // union below has materialized
      val batchPairs =
        if (includeBatchPairs) Some(Dedup.bandedHammingPairs(fpB, maxHamming))
        else None
      try batchPairs.fold(candCB)(candCB.unionByName(_))
        .dropDuplicates("id_a", "id_b")
        .localCheckpoint(true) // materialize the (small) pair set
      finally batchPairs.foreach(Dedup.freeCheckpoint)
    } finally Dedup.freeCheckpoint(bandsB)
  }

  /** The admission gate composed — [[DedupIndex.admit]]'s survivor
    * rule over perceptual pairs: a batch row is dropped when it pairs
    * with any incumbent corpus image, or with any smaller-id batch
    * row (one survivor per dup clique; incumbents always win). The
    * batch reduces to ONE row per id up front
    * ([[Dedup.onePerKeyNullsKept]] — same-id duplicates must not both
    * pass) and is READ ONCE: localCheckpoint'd on entry, every scan of
    * the probe and the survivor join reads the checkpoint. Typical
    * ingest: `admit` → [[upsert]] survivors. */
  def admit(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int = 3): DataFrame =
    admitOnePerId(spark, path, Dedup.onePerKeyNullsKept(batch, idCol),
      idCol, fpCol, maxHamming)

  /** [[admit]] minus the one-per-id reduction, for callers that have
    * already reduced (the streaming path). NULL-id rows pass through
    * (no identity to pair with). The batch is materialized once on
    * entry, as in [[admit]]. */
  private[graft] def admitOnePerId(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, fpCol: String, maxHamming: Int): DataFrame =
    graft.util.Checkpoints.withMaterialized(batch) { batch1 =>
      val pairs = nearDupsAgainst(spark, path, batch1, idCol, fpCol, maxHamming)
      try {
        val batchIds = batch1.select(col(idCol)).distinct()
        // pairs are normalized id_a < id_b and incumbents never die:
        // batch id X dies iff it is id_b of any pair, or id_a of a pair
        // whose id_b is a corpus id (the incumbent drew the larger id)
        val dead = pairs.select(col("id_b").as("__dead"))
          .unionByName(
            pairs.join(batchIds.withColumnRenamed(idCol, "id_a"),
                Seq("id_a"), "left_semi")
              .join(batchIds.withColumnRenamed(idCol, "id_b"),
                Seq("id_b"), "left_anti")
              .select(col("id_a").as("__dead")))
          .distinct()
        batch1.join(dead, batch1(idCol) === dead("__dead"), "left_anti")
          .localCheckpoint(true)
      } finally Dedup.freeCheckpoint(pairs)
    }

  /** [[admit]] from raw decoded images, hashing with the pinned
    * kernel; the fp column is appended as `fpColOut` on the survivors
    * so the follow-up [[upsert]] needs no re-hash. Un-hashable rows
    * (NULL fp) pass the gate — they carry no perceptual identity; the
    * caller routes them to byte-level audit instead. */
  def admitImages(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, widthCol: String, heightCol: String, rgbCol: String,
      maxHamming: Int = 3, fpColOut: String = "fp"): DataFrame = {
    require(!batch.columns.contains(fpColOut),
      s"batch already carries a '$fpColOut' column — pass fpColOut")
    val a = algo(spark, path)
    val withFp = batch.withColumn(fpColOut,
      hashBy(a)(col(widthCol).cast("int"), col(heightCol).cast("int"),
        col(rgbCol)))
    admitOnePerId(spark, path, Dedup.onePerKeyNullsKept(withFp, idCol),
      idCol, fpColOut, maxHamming)
  }
}
