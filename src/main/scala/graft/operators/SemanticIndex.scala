package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosineSimilarity
import graft.sources.{CompositeIndex, MergeTable}

/** Persisted semantic-dedup index — [[Dedup.semanticDedup]]'s serving
  * path, completing the family symmetry: exact dedup has the KB's
  * content-hash gate, MinHash near-dup has [[DedupIndex]], and
  * SemDeDup-style embedding dedup gets the same ingest lifecycle here
  * (build once → probe each arriving batch → admit survivors → upsert).
  * Reference analog: the content-hash admission gate of
  * `backend/services/vector_service.py:104-125`, lifted from exact
  * bytes to embedding semantics at the ingest boundary.
  *
  *  - `path/vectors`   — (id, vec, cluster, centroid_sim), keyed id:
  *    every indexed vector with its nearest-coarse-centroid assignment
  *    and round-6 centroid similarity (the SemDeDup ranking key)
  *    precomputed at write time, so probes never re-derive the corpus
  *    side. CLUSTER-MAJOR after [[compact]] (files range-sorted on
  *    `cluster`): a probe pushes `cluster IN (batch clusters)` into
  *    the parquet scan and prunes non-matching files from footers
  *    alone — probe IO ∝ clusters the batch actually hits.
  *  - `path/centroids` — (cluster, centroid): the coarse quantizer,
  *    FROZEN at build. Probes and upserts assign with the pinned
  *    centroids, never retrain — index rows and probe rows must land
  *    in the same clusters or recall silently drops (the [[DedupIndex]]
  *    params contract, here the quantizer IS the params). Re-training
  *    means rebuilding the index.
  *
  * Both components are [[MergeTable]]s under ONE [[CompositeIndex]]
  * manifest: versioned atomic commits, OCC, pinned cross-component
  * reads (a probe racing an upsert sees the whole old index or the
  * whole new one), build-unique staging dirs, pin-aware vacuum — the
  * shared layer's contract, inherited wholesale.
  *
  * Unlike [[DedupIndex]] there is no separate verification store: the
  * vector IS the verifier, so a probe is one pruned scan + one
  * broadcast join + a cosine filter. Candidate cost is quadratic only
  * within a cluster; the number of centroids k is the knob that
  * bounds it (SemDeDup runs ~100k clusters at web scale precisely so
  * clusters stay small), and [[nearDupsAgainst]]'s
  * `maxClusterPostings` guard bounds the degenerate hot-cluster case
  * the same way DedupIndex bounds boilerplate buckets.
  */
object SemanticIndex {

  private val CI = new CompositeIndex("semantic index",
    Seq("vectors", "centroids"))

  type Ref = CompositeIndex.Ref
  val Ref = CompositeIndex.Ref

  private def componentPath(path: String, dir: String) =
    CI.componentPath(path, dir)

  /** One composite index version — readers resolve a pin ONCE and read
    * every component at its pinned dir+version. */
  final case class Pin(version: Long, vectors: Ref, centroids: Ref)

  private def toPin(p: CompositeIndex.Pin): Pin =
    Pin(p.version, p("vectors"), p("centroids"))

  def pin(spark: SparkSession, path: String): Pin =
    toPin(CI.pin(spark, path))

  def exists(spark: SparkSession, path: String): Boolean =
    CI.exists(spark, path)

  private[graft] def vectorsPath(spark: SparkSession, path: String): String =
    componentPath(path, pin(spark, path).vectors.dir)

  /** Build the index from scratch with a CALLER-PROVIDED coarse
    * quantizer (`cents`: (cluster, centroid) — any discrete clustering
    * whose centroids you can state, e.g. [[SimilaritySearch.centroids]]
    * over a labeled corpus). Fails if an index exists (CREATE INDEX
    * semantics — use [[upsert]] for maintenance). `docs` must be
    * unique on `idCol`; NULL-id and NULL-vec rows are excluded (no
    * identity to merge under / no content to be a duplicate of).
    * Reader-atomic via the composite manifest: components stage
    * invisibly and ONE v1 commit publishes both. */
  def build(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, vecCol: String, cents: DataFrame): Unit = {
    CI.requireBuildable(spark, path)
    val centsN = cents
      .select(col("cluster").cast("int").as("cluster"), col("centroid"))
      .localCheckpoint(true)
    try {
      val nCents = centsN.count()
      require(nCents >= 1, "cents is empty")
      val assigned = assignedFrame(docs, idCol, vecCol, centsN)
      val committed = CI.build(spark, path) { dirs =>
        // independent component writes — overlap them (guide §2.6)
        val (vv, cv) = graft.util.Par.both(
          MergeTable.init(
            spark, componentPath(path, dirs("vectors")), assigned),
          MergeTable.init(
            spark, componentPath(path, dirs("centroids")), centsN))
        Map("vectors" -> vv.version, "centroids" -> cv.version)
      }
      // CompositeIndex.build proved the pinned components exist; the
      // quantizer cardinality is this index's own integrity signal
      val p = toPin(committed)
      val readBack = MergeTable.readAt(
        spark, componentPath(path, p.centroids.dir), p.centroids.version).count()
      require(readBack == nCents,
        s"semantic index at $path corrupted by a concurrent build " +
          s"(centroids $readBack != $nCents); builds must be serialized")
    } finally graft.util.Checkpoints.free(centsN)
  }

  /** [[build]] with the quantizer TRAINED here: deterministic k-means
    * ([[SimilaritySearch.kmeansCentroids]] — farthest-point init,
    * fixed rounds) over `docs` itself. At 100 TB, train on a sample
    * (a few hundred vectors per centroid saturates a coarse
    * quantizer — the PQ-training guidance) and call [[build]] with
    * the result instead. */
  def buildKmeans(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int = 10): Unit =
    build(spark, path, docs, idCol, vecCol,
      SimilaritySearch.kmeansCentroids(docs, idCol, vecCol, k, iters))

  /** The pinned quantizer (k-row read). */
  def centroids(spark: SparkSession, path: String): DataFrame = {
    val p = pin(spark, path)
    MergeTable.readAt(
      spark, componentPath(path, p.centroids.dir), p.centroids.version)
  }

  /** Incrementally admit a vector batch: each id's row is merged by
    * key (replaced or inserted, touched parquet files only), assigned
    * with the PINNED quantizer. A batch row with a NULL vector is a
    * CONTENT RETRACTION — the id's row is DELETED (bounded predicate
    * delete), not skipped, or the dead vector's semantics would keep
    * rejecting future lookalikes ([[DedupIndex.upsert]]'s stance).
    * Batches are ingest-batch sized (the id list is collected for the
    * retraction predicate). One composite commit publishes; a no-op
    * batch publishes nothing. */
  def upsert(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val p0 = pin(spark, path)
    val retracted = batch
      .filter(col(vecCol).isNull && col(idCol).isNotNull)
      .select(col(idCol)).distinct().collect().map(_.get(0)).toSeq
    val cents = centroidsAt(spark, path, p0)
    val assigned = assignedFrame(batch, idCol, vecCol, cents)
    val vPath = componentPath(path, p0.vectors.dir)
    var vV = p0.vectors.version
    if (retracted.nonEmpty)
      vV = MergeTable.deleteWhere(spark, vPath,
        col("id").isin(retracted: _*)).version
    if (!assigned.isEmpty)
      vV = MergeTable.merge(spark, vPath, assigned, Seq("id")).version
    if (vV != p0.vectors.version)
      CI.commitPin(spark, path, p0.version + 1, Map(
        "vectors" -> Ref(p0.vectors.dir, vV),
        "centroids" -> p0.centroids))
  }

  /** Remove ids outright — [[upsert]]'s retraction for callers that
    * hold only ids. Absent ids are no-ops; an all-absent batch
    * publishes nothing. Bounded id list (batch contract). */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit = {
    if (ids.isEmpty) return
    val p0 = pin(spark, path)
    val vV = MergeTable.deleteWhere(spark,
      componentPath(path, p0.vectors.dir), col("id").isin(ids: _*)).version
    if (vV != p0.vectors.version)
      CI.commitPin(spark, path, p0.version + 1, Map(
        "vectors" -> Ref(p0.vectors.dir, vV),
        "centroids" -> p0.centroids))
  }

  /** Range-sort the vectors component on `cluster` so probe scans
    * prune non-matching files from parquet footers alone. Reads AT the
    * pinned version (never component-latest — the [[DedupIndex
    * .compact]] crashed-upsert rationale). */
  def compact(spark: SparkSession, path: String, numFiles: Int): Unit = {
    val p0 = pin(spark, path)
    val v = MergeTable.compactTableAt(
      spark, componentPath(path, p0.vectors.dir), "cluster", numFiles,
      Some(p0.vectors.version))
    CI.commitPin(spark, path, p0.version + 1, Map(
      "vectors" -> Ref(p0.vectors.dir, v.version),
      "centroids" -> p0.centroids))
  }

  /** Maintenance sweep — [[CompositeIndex.vacuum]]. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int =
    CI.vacuum(spark, path, retainMillis)

  /** Semantic near-dup pairs between `batch` and the indexed corpus
    * (and, with `includeBatchPairs`, within the batch) — the admission
    * probe. Returns (id_a, id_b, cosine) with id_a < id_b, where `tau`
    * gates the EXACT cosine (a pair at 0.3499996 with tau 0.35 is out)
    * and round-6 applies only to the returned `cosine` column —
    * exactly the batch-touching subset of what
    * [[Dedup.semanticDedup]]'s tau-ball rule sees over (corpus ∪
    * batch) under the pinned quantizer.
    *
    * A batch id already in the index is a REPLACEMENT: its stale
    * corpus row is excluded from pairing (a vector must not collide
    * with its own previous version); the batch side is the one probed.
    *
    * Plan shape: ONE pin for the whole probe; the batch assigns
    * against the pinned broadcast centroids and checkpoints (small);
    * the corpus scan dies in a broadcast join on `cluster`, with
    * `cluster IN` additionally pushed to parquet for small probes
    * (footer-pruned after [[compact]]; above `idPushLimit` distinct
    * clusters it switches to the broadcast-only form — the measured
    * literal-explosion lesson). Cosine verifies in the same stage —
    * no second scan. `maxClusterPostings` (None = exact) drops
    * DEGENERATE clusters whole, in both the corpus and in-batch legs:
    * a hot cluster of k near-identical incumbents would contribute k
    * candidates per batch row hitting it — the k² hazard. Recall loss
    * concentrates exactly on the degenerate family being bounded;
    * prefer re-building with more centroids. Zero-norm vectors have
    * null cosine and never pair. */
  def nearDupsAgainst(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      includeBatchPairs: Boolean = true,
      idPushLimit: Int = 1000,
      maxClusterPostings: Option[Int] = None): DataFrame = {
    requireProbeArgs(tau, maxClusterPostings)
    val p0 = pin(spark, path)
    val assignedB = assignedFrame(
        batch, idCol, vecCol, centroidsAt(spark, path, p0))
      .localCheckpoint(true)
    try probePinned(spark, path, p0, batch, idCol, assignedB, tau,
      includeBatchPairs, idPushLimit, maxClusterPostings)
    finally Dedup.freeCheckpoint(assignedB)
  }

  /** Fail argument bugs BEFORE any pin read, centroid collect, or
    * assignment job — both probe entries call this first. */
  private def requireProbeArgs(
      tau: Double, maxClusterPostings: Option[Int]): Unit = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(maxClusterPostings.forall(_ >= 1),
      "maxClusterPostings must be >= 1 when set")
  }

  /** The probe body against one resolved pin and one checkpointed
    * batch assignment — shared by [[nearDupsAgainst]] and
    * [[admitOnePerId]] so the admission path pays ONE pin and ONE
    * assignment pass (it needs the centroid_sim ranks the probe
    * already computed). */
  private def probePinned(
      spark: SparkSession, path: String, p0: Pin, batch: DataFrame,
      idCol: String, assignedB: DataFrame, tau: Double,
      includeBatchPairs: Boolean, idPushLimit: Int,
      maxClusterPostings: Option[Int]): DataFrame = {
    val clusters = graft.util.Pushdown.keyLiterals(assignedB, "cluster", idPushLimit)
      val corpusScan0 = MergeTable.readAt(
        spark, componentPath(path, p0.vectors.dir), p0.vectors.version)
      val corpusScan = clusters match {
        case Some(cs) => corpusScan0.filter(col("cluster").isin(cs: _*))
        case None => corpusScan0.join(
          broadcast(assignedB.select(col("cluster")).distinct()),
          Seq("cluster"), "left_semi")
      }
      // ALL batch ids, from the raw batch: a NULL-vec row (retraction
      // in flight) must still exclude its stale corpus copy
      val batchIds = batch.select(col(idCol).as("id"))
        .filter(col("id").isNotNull).distinct()
      val corpusLive = corpusScan
        .select(col("cluster"), col("id").as("cid"), col("vec").as("cvec"))
        .join(broadcast(batchIds.withColumnRenamed("id", "cid")),
          Seq("cid"), "left_anti")
      val corpusBounded = maxClusterPostings match {
        case None => corpusLive
        case Some(cap) =>
          // counted on the LINEAR matched-postings frame, after the
          // stale-copy exclusion, before any batch join can square it
          val hot = corpusLive.groupBy(col("cluster"))
            .agg(count(lit(1)).as("__n"))
            .filter(col("__n") > cap)
            .select(col("cluster"))
          corpusLive.join(broadcast(hot), Seq("cluster"), "left_anti")
      }
      val bSide = assignedB.select(col("cluster"),
        col("id").as("bid"), col("vec").as("bvec"))
      val pairsCB = corpusBounded
        .join(broadcast(bSide), Seq("cluster"))
        .withColumn("cosine", cosineSimilarity(col("cvec"), col("bvec")))
        .filter(col("cosine") >= tau)
        .select(least(col("cid"), col("bid")).as("id_a"),
          greatest(col("cid"), col("bid")).as("id_b"), col("cosine"))
      val bSelf = maxClusterPostings match {
        case None => bSide
        case Some(cap) =>
          val hotB = bSide.groupBy(col("cluster"))
            .agg(count(lit(1)).as("__n"))
            .filter(col("__n") > cap)
            .select(col("cluster"))
          bSide.join(broadcast(hotB), Seq("cluster"), "left_anti")
      }
      val pairsBB =
        if (!includeBatchPairs) pairsCB.limit(0)
        else bSelf
          .join(bSelf.select(col("cluster"), col("bid").as("bid2"),
            col("bvec").as("bvec2")), Seq("cluster"))
          .filter(col("bid") < col("bid2"))
          .withColumn("cosine", cosineSimilarity(col("bvec"), col("bvec2")))
          .filter(col("cosine") >= tau)
          .select(col("bid").as("id_a"), col("bid2").as("id_b"), col("cosine"))
      pairsCB.unionByName(pairsBB)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .distinct()
        .localCheckpoint(true) // materialize the (small) pair set
  }

  /** The admission gate composed: the batch rows that are NOT a
    * semantic duplicate of the indexed corpus, under
    * [[Dedup.semanticDedup]]'s policy. A batch row dies when it pairs
    * (cosine >= tau, same pinned cluster) with ANY incumbent (the
    * corpus always wins — it was admitted first), or with a
    * BETTER-RANKED batch row (lower round-6 centroid_sim = less
    * prototypical, ties to lower id — the keep-the-outlier rule). The
    * rule is one-pass per row: a row drops even if its killer also
    * drops (conservative, deterministic — [[DedupIndex.admit]]'s
    * stance). NULL-id rows pass through (no identity to pair under);
    * NULL-vec rows pass through (retractions in flight must reach the
    * follow-up [[upsert]]). The batch reduces to one row per id up
    * front ([[Dedup.onePerKeyNullsKept]] — same-id rows can never
    * pair under strict inequality, so both would survive) and is READ
    * ONCE: the reduced batch is localCheckpoint'd on entry and every
    * scan (assignment, batch ids, the survivor anti-join) reads that.
    * EAGER: survivors materialize before internal checkpoints free.
    * The typical ingest step is `admit` → [[upsert]] survivors. */
  def admit(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      maxClusterPostings: Option[Int] = None): DataFrame =
    admitOnePerId(spark, path, Dedup.onePerKeyNullsKept(batch, idCol),
      idCol, vecCol, tau, maxClusterPostings)

  /** [[admit]] minus the up-front one-per-id reduction, for callers
    * that have ALREADY reduced the batch (the streaming path resolves
    * winners version-aware before gating — [[DedupIndex
    * .admitOnePerId]]'s rationale verbatim). Caller's guarantee: at
    * most one row per non-null id. The batch is materialized once on
    * entry, as in [[admit]]. */
  private[graft] def admitOnePerId(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      maxClusterPostings: Option[Int]): DataFrame = {
    requireProbeArgs(tau, maxClusterPostings)
    graft.util.Checkpoints.withMaterialized(batch) { batch1 =>
      // ONE pin and ONE assignment pass for the probe AND the ranks
      val p0 = pin(spark, path)
      val assignedB = assignedFrame(
          batch1, idCol, vecCol, centroidsAt(spark, path, p0))
        .localCheckpoint(true)
      try {
        val pairs = probePinned(spark, path, p0, batch1, idCol, assignedB,
          tau, includeBatchPairs = true, idPushLimit = 1000,
          maxClusterPostings = maxClusterPostings)
        try {
          val ranked = assignedB.select(col("id"), col("centroid_sim"))
          val batchIds = batch1.select(col(idCol).as("id"))
            .filter(col("id").isNotNull).distinct()
          // orient each pair: sides in the batch carry their rank; a
          // corpus side outranks everything (csim null-safe: a corpus
          // incumbent kills regardless of rank)
          val rA = ranked.select(col("id").as("id_a"), col("centroid_sim").as("csim_a"))
          val rB = ranked.select(col("id").as("id_b"), col("centroid_sim").as("csim_b"))
          val inA = batchIds.select(col("id").as("id_a")).withColumn("in_a", lit(true))
          val inB = batchIds.select(col("id").as("id_b")).withColumn("in_b", lit(true))
          val oriented = pairs
            .join(rA, Seq("id_a"), "left").join(rB, Seq("id_b"), "left")
            .join(inA, Seq("id_a"), "left").join(inB, Seq("id_b"), "left")
            .withColumn("in_a", coalesce(col("in_a"), lit(false)))
            .withColumn("in_b", coalesce(col("in_b"), lit(false)))
          // dead batch side per pair:
          //  corpus-vs-batch: the batch side dies;
          //  batch-vs-batch: the HIGHER (csim, id) side dies (null csim
          //  never pairs — cosine was null — so no null rank arrives)
          val dead = oriented.select(
            when(!col("in_a"), col("id_b"))                   // corpus a kills b
              .when(!col("in_b"), col("id_a"))                // corpus b kills a
              .when(col("csim_a") > col("csim_b"), col("id_a"))
              .when(col("csim_a") < col("csim_b"), col("id_b"))
              .otherwise(col("id_b"))                         // csim tie: higher id dies
              .as("__dead")).distinct()
          batch1.join(dead, batch1(idCol) === dead("__dead"), "left_anti")
            .localCheckpoint(true)
        } finally Dedup.freeCheckpoint(pairs)
      } finally Dedup.freeCheckpoint(assignedB)
    }
  }

  private def centroidsAt(
      spark: SparkSession, path: String, p: Pin): DataFrame =
    MergeTable.readAt(
      spark, componentPath(path, p.centroids.dir), p.centroids.version)

  /** (id, vec, cluster, centroid_sim) for the index/probe side:
    * NULL-id rows dropped (no identity — a MergeTable key may not be
    * NULL), NULL-vec rows dropped (retractions are handled by the
    * callers), assignment + round-6 ranking from the shared
    * [[SimilaritySearch.assignClustersWithSim]] expression so index
    * rows and probes land in bit-identical clusters. */
  private def assignedFrame(
      docs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    SimilaritySearch.assignClustersWithSim(
        docs.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
          .select(col(idCol).as("id"), col(vecCol).as("vec")),
        "vec", cents)
}
