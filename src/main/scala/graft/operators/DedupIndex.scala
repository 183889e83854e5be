package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CompositeIndex, MergeTable}

/** Persisted MinHash-LSH index for [[Dedup]] — near-dup detection AT
  * INGEST, the serving path the batch operators lack.
  *
  * [[Dedup.minHashNearDups]] re-shingles and re-signs the WHOLE corpus
  * per call: right for a one-shot curation sweep, wrong for the steady
  * state of a growing corpus, where every incoming batch must answer
  * "is this a near-duplicate of anything we already hold?" before it
  * is admitted (the reference's content-hash gate,
  * `backend/services/vector_service.py:104-125`, generalized from
  * exact to near-duplicate). At 100 TB the corpus side must be a
  * persisted index probed per batch, never a recomputation:
  *
  *  - `path/bands`    — (id, band, bucket), keyed (id, band): the LSH
  *    band table, bit-identical buckets to [[Dedup.bandFrame]] (shared
  *    code — indexed probes and fresh recomputes MUST collide in the
  *    same buckets or recall silently drops). BUCKET-MAJOR after
  *    [[compact]] (files range-sorted on bucket): a batch probe pushes
  *    `bucket IN (batch buckets)` into the parquet scan and prunes
  *    non-matching files from footers alone — probe IO is proportional
  *    to the buckets the batch actually hits, not the corpus.
  *  - `path/shingles` — (id, shingles), keyed id: the verification
  *    store. Exact-Jaccard verification reads ONLY the candidate ids'
  *    rows (semi-join; candidates are band-collision-bounded).
  *  - `path/params`   — one row (shingle_size, num_hashes, bands):
  *    probes and upserts parameterize themselves from the index, so a
  *    caller cannot accidentally probe with a different shingling than
  *    the index was built with.
  *
  * All three components are [[MergeTable]]s: versioned atomic commits,
  * OCC, time travel, vacuum — and [[upsert]] maintains the index
  * incrementally (touched parquet files only). A doc's band rows are
  * a FIXED set (band 0..bands-1 always present), so a keyed merge on
  * (id, band) fully replaces stale bands with no delete pass — simpler
  * than [[LexicalIndex.upsert]]'s stale-postings delete, because the
  * "terms" of this index (the bands) don't vary with the document.
  *
  * CROSS-COMPONENT consistency comes from one more manifest level:
  * `path/_manifests/v<N>` pins, for each component, the DIRECTORY it
  * lives in and the version to read it at ([[Pin]] — manifest lines
  * `bands=<dir>@<version>`). Every write ([[build]]/[[upsert]]/
  * [[compact]]) advances the components FIRST (each commit
  * individually atomic, but invisible) and publishes them with ONE
  * composite commit; every read ([[nearDupsAgainst]]/[[params]])
  * resolves the latest composite manifest once and reads all
  * components AT the pinned dir+version — a probe racing an upsert
  * sees the whole old index or the whole new one, never bands and
  * shingles one version apart. Index-level writers must be serialized
  * (the shipped streaming composition is — one maintenance stream per
  * index); a second concurrent writer loses the composite commit race
  * LOUDLY ([[MergeTable.CommitConflict]]), never silently. A writer
  * crash between component commits and the composite commit leaves the
  * new component versions unpublished — readers stay on the old pin,
  * and the replayed batch's keyed merges converge before the next
  * composite commit publishes them (the at-least-once contract).
  *
  * Component directories are BUILD-UNIQUE (`bands-<token>`): a racing
  * [[build]] stages into its own token dirs and can never re-create
  * another build's paths, which is what makes the double-build caller
  * error impossible-or-loud instead of silently corrupting — see
  * [[build]]. Pre-token manifests (`bands=<version>`) still resolve,
  * with the dir defaulting to the component's fixed legacy name;
  * [[migrate]] publishes a pre-composite legacy layout.
  *
  * Scale: a probe never shuffles the corpus. The corpus-sized band
  * table is scanned once with the bucket filter pushed down, joined to
  * the BROADCAST batch bands, and only collision candidates reach the
  * verify join. Cost ∝ matched buckets + candidate pairs.
  */
object DedupIndex {

  /** The composite-manifest machinery is the SHARED layer
    * ([[CompositeIndex]] — also under [[LexicalIndex]]); this object
    * keeps the dedup-specific surface: shingling parameters pinned in
    * the index, retraction semantics, probes and the admission gate. */
  private val CI = new CompositeIndex("dedup index",
    Seq("bands", "shingles", "params"))

  type Ref = CompositeIndex.Ref
  val Ref = CompositeIndex.Ref

  private def componentPath(path: String, dir: String) =
    CI.componentPath(path, dir)

  /** Absolute path of the PINNED bands component (test/diagnostic
    * access — component dirs are build-unique, never assume a name). */
  private[graft] def bandsPath(spark: SparkSession, path: String): String =
    componentPath(path, pin(spark, path).bands.dir)
  private[graft] def shinglesPath(spark: SparkSession, path: String): String =
    componentPath(path, pin(spark, path).shingles.dir)

  final case class Params(shingleSize: Int, numHashes: Int, bands: Int)

  /** One composite index version: the component refs that together
    * form a consistent state. Readers resolve a pin ONCE and read
    * every component at its pinned dir+version. */
  final case class Pin(version: Long, bands: Ref, shingles: Ref, params: Ref)

  private def toPin(p: CompositeIndex.Pin): Pin =
    Pin(p.version, p("bands"), p("shingles"), p("params"))

  /** The latest committed composite version. */
  def pin(spark: SparkSession, path: String): Pin =
    toPin(CI.pin(spark, path))

  /** Build the index at `path` from scratch (fails if one exists —
    * CREATE INDEX semantics; use [[upsert]] for maintenance). `docs`
    * must be unique on `idCol`; NULL-text docs are excluded (they have
    * no content to be duplicates of — [[Dedup.exactByContent]]'s
    * convention).
    *
    * Reader-atomic: the component tables initialize in sequence but
    * stay INVISIBLE (no composite manifest → [[exists]] false, reads
    * throw) until the single composite v1 commit publishes all three.
    * A build that crashed mid-way left only unpublished token dirs;
    * the next build clears them and starts fresh — no repair path.
    *
    * Two RACING builds are a caller error (the single-writer contract
    * covers builds too), made impossible-or-loud by BUILD-UNIQUE
    * component dirs: each build stages into `bands-<token>` etc., so a
    * racer can sweep this build's dirs (making its reads fail loudly,
    * dir gone) but can never RE-CREATE them with its own data — wrong
    * content behind a committed pin cannot happen. The leftover-clear
    * re-checks the composite manifest immediately before deleting, so
    * the sweep itself only fires inside the require-to-delete window;
    * the composite-commit loser fails loudly with
    * [[MergeTable.CommitConflict]] and reclaims its own private dirs,
    * and the winner's post-commit read-back (at its token-unique dirs)
    * turns the residual swept-after-commit case into a loud failure —
    * a broken index never publishes silently.
    *
    * A PRE-COMPOSITE legacy layout (fixed-name component dirs, no
    * composite manifest) is REFUSED, never cleared: build cannot
    * distinguish a serving legacy index from a crashed legacy build,
    * so it must not destroy either — run [[migrate]] to publish it, or
    * delete the directory deliberately. */
  def build(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 128, bands: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // fail fast (index exists / refused legacy layout) BEFORE the
    // corpus-scale shingling scan; CompositeIndex.build re-checks
    // both under its own ordering guarantees
    CI.requireBuildable(spark, path)
    val sh = shingled(docs, idCol, textCol, shingleSize)
    try {
      val committed = CI.build(spark, path) { dirs =>
        import spark.implicits._
        // the three component writes are independent (separate tables,
        // all reading the one checkpointed shingle frame): overlap them
        // from driver threads (guide §2.6) instead of serializing three
        // write jobs + their planning/commit gaps
        val (sv, bv, pv) = graft.util.Par.three(
          MergeTable.init(spark, componentPath(path, dirs("shingles")), sh),
          // bucket blooms: LSH buckets are a uniform hash domain — min/max
          // stats never skip a row group for the probe's `bucket IN`
          // until [[compact]] range-sorts the files; the bloom skips from
          // the first committed version
          MergeTable.init(spark, componentPath(path, dirs("bands")),
            Dedup.bandFrame(sh, numHashes, bands), bloomKeys = Seq("bucket")),
          MergeTable.init(spark, componentPath(path, dirs("params")),
            Seq((shingleSize, numHashes, bands))
              .toDF("shingle_size", "num_hashes", "bands")))
        Map("bands" -> bv.version, "shingles" -> sv.version,
          "params" -> pv.version)
      }
      // CompositeIndex.build proved every pinned component EXISTS; the
      // params VALUES are this index's own integrity signal on top
      val p = paramsAt(spark, path, toPin(committed))
      require(p == Params(shingleSize, numHashes, bands),
        s"dedup index at $path corrupted by a concurrent build (read " +
          s"back $p); builds must be serialized — rebuild the path")
    } finally graft.util.Checkpoints.free(sh)
  }

  /** Publish a PRE-COMPOSITE legacy index (components at the fixed
    * `bands`/`shingles`/`params` dirs, each MergeTable-committed, no
    * composite manifest — the layout the pre-token code wrote) under
    * the composite-manifest contract: one composite v1 pinning each
    * component at its current latest version. [[build]] refuses such a
    * layout rather than destroy it; this is the upgrade path. */
  def migrate(spark: SparkSession, path: String): Unit =
    CI.migrate(spark, path)

  def exists(spark: SparkSession, path: String): Boolean =
    CI.exists(spark, path)

  /** The index's build-time parameters (1-row read). */
  def params(spark: SparkSession, path: String): Params =
    paramsAt(spark, path, pin(spark, path))

  private def paramsAt(spark: SparkSession, path: String, p: Pin): Params = {
    val r = MergeTable.readAt(
        spark, componentPath(path, p.params.dir), p.params.version)
      .select(col("shingle_size"), col("num_hashes"), col("bands"))
      .head()
    Params(r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Incrementally admit a document batch: each doc's bands and
    * shingles are merged by key (matched ids fully replaced — the band
    * set per id is fixed — new ids inserted), rewriting only the
    * parquet files the keys hit. Shingling parameters come from the
    * index itself.
    *
    * A batch doc with NULL text is a CONTENT RETRACTION: the id's
    * bands and shingles are DELETED from the index (bounded predicate
    * delete — batch-sized id list), not skipped. Skipping would leave
    * the retracted content's signature serving forever: future docs
    * similar to the dead text would keep getting rejected as
    * near-dups of content that no longer exists.
    *
    * Atomic for readers: the component deletes/merges commit first
    * (unpublished), then ONE composite commit flips every reader from
    * the whole old state to the whole new one — see the class doc for
    * the crash/replay and single-writer contract. */
  def upsert(
      spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val p0 = pin(spark, path)
    val p = paramsAt(spark, path, p0)
    val retracted = docs.filter(col(textCol).isNull && col(idCol).isNotNull)
      .select(col(idCol)).distinct().collect().map(_.get(0)).toSeq
    val sh = shingled(docs, idCol, textCol, p.shingleSize)
    val sPath = componentPath(path, p0.shingles.dir)
    val bPath = componentPath(path, p0.bands.dir)
    try {
      // component versions to publish: start from the current pins so
      // a no-op batch publishes nothing
      var sV = p0.shingles.version
      var bV = p0.bands.version
      // shingles and bands are independent components: each component's
      // delete-then-merge CHAIN runs as one branch and the two branches
      // overlap (guide §2.6) — per-component order preserved, no
      // cross-component barrier between the delete and merge phases
      // (a slow shingles purge must not hold up the bands merge)
      val doRetract = retracted.nonEmpty
      val doMerge = !sh.isEmpty
      if (doRetract || doMerge) {
        val (sv2, bv2) = graft.util.Par.both(
          {
            var v = sV
            if (doRetract) v = MergeTable.deleteWhere(spark, sPath,
              col("id").isin(retracted: _*)).version
            if (doMerge) v = MergeTable.merge(spark, sPath, sh, Seq("id")).version
            v
          },
          {
            var v = bV
            if (doRetract) v = MergeTable.deleteWhere(spark, bPath,
              col("id").isin(retracted: _*)).version
            if (doMerge) v = MergeTable.merge(spark, bPath,
              Dedup.bandFrame(sh, p.numHashes, p.bands), Seq("id", "band")).version
            v
          })
        sV = sv2; bV = bv2
      }
      if (sV != p0.shingles.version || bV != p0.bands.version)
        CI.commitPin(spark, path, p0.version + 1, Map(
          "bands" -> Ref(p0.bands.dir, bV),
          "shingles" -> Ref(p0.shingles.dir, sV),
          "params" -> p0.params))
    } finally graft.util.Checkpoints.free(sh)
  }

  /** Remove ids from the index outright — the purge form of
    * [[upsert]]'s NULL-text content retraction, for callers that hold
    * only ids (no docs frame): the ids' bands and shingles delete
    * from both components and ONE composite commit publishes, so the
    * dead docs' signatures stop rejecting future lookalikes. Ids
    * absent from the index are no-ops; an all-absent batch publishes
    * nothing. Bounded id list — the [[upsert]] batch contract. */
  def delete(spark: SparkSession, path: String, ids: Seq[Any]): Unit = {
    if (ids.isEmpty) return
    val p0 = pin(spark, path)
    val sV = MergeTable.deleteWhere(spark,
      componentPath(path, p0.shingles.dir), col("id").isin(ids: _*)).version
    val bV = MergeTable.deleteWhere(spark,
      componentPath(path, p0.bands.dir), col("id").isin(ids: _*)).version
    if (sV != p0.shingles.version || bV != p0.bands.version)
      CI.commitPin(spark, path, p0.version + 1, Map(
        "bands" -> Ref(p0.bands.dir, bV),
        "shingles" -> Ref(p0.shingles.dir, sV),
        "params" -> p0.params))
  }

  /** Range-sort the band files on `bucket` so probe scans prune
    * non-matching files from parquet footers alone — [[LexicalIndex
    * .compact]]'s locality pass for the collision table. Run after
    * bulk loads; published with a composite commit like every write.
    *
    * The rewrite reads the bands component AT THE PINNED version, not
    * component-latest: an upsert that crashed between its component
    * merges and its composite commit leaves newer UNPUBLISHED component
    * versions, and compacting those would publish the crashed batch's
    * bands against the OLD pinned shingles — the exact mixed state the
    * composite manifest exists to prevent. The compacted rewrite
    * becomes the component's new tip, superseding the crashed commit's
    * rows there; that is safe because unpublished rows are, by the
    * at-least-once contract, awaiting a replay that re-merges them. */
  def compact(spark: SparkSession, path: String, numFiles: Int): Unit = {
    val p0 = pin(spark, path)
    val b = MergeTable.compactTableAt(
      spark, componentPath(path, p0.bands.dir), "bucket", numFiles,
      Some(p0.bands.version))
    CI.commitPin(spark, path, p0.version + 1, Map(
      "bands" -> Ref(p0.bands.dir, b.version),
      "shingles" -> p0.shingles, "params" -> p0.params))
  }

  /** Maintenance sweep over the whole index — [[CompositeIndex
    * .vacuum]]: pinned-version-aware component vacuums, orphan
    * token-dir reclaim, composite manifest temp sweep. Returns the
    * number of orphan dirs removed. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int =
    CI.vacuum(spark, path, retainMillis)

  /** Near-duplicate pairs between `batch` and the indexed corpus (and,
    * with `includeBatchPairs`, within the batch itself) — the
    * admission probe. Returns (id_a, id_b, jaccard) with id_a < id_b,
    * exact word-shingle Jaccard >= `threshold`, bit-identical to what
    * [[Dedup.minHashNearDups]] over (corpus ∪ batch) reports for pairs
    * touching the batch.
    *
    * A batch doc whose id already exists in the index is treated as a
    * REPLACEMENT: its stale corpus copy is excluded from pairing (a
    * doc must not collide with its own previous version), and the
    * batch-side text is the one probed. The batch's ids are collected
    * driver-side for that exclusion and for the pushed bucket filter,
    * so keep batches bounded (ingest-batch sized, not corpus-sized) —
    * [[LexicalIndex.upsert]]'s contract.
    *
    * Plan shape: batch shingles+bands compute once (checkpointed,
    * broadcast — the batch is small); the corpus band scan dies in a
    * broadcast join on (band, bucket), with `bucket IN` additionally
    * pushed to parquet for small probes (footer-pruned after
    * [[compact]]); candidates (corpus-vs-batch band collisions +
    * in-batch collisions) prune the shingle store to their own ids;
    * one bounded verify join computes exact Jaccard. */
  def nearDupsAgainst(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      includeBatchPairs: Boolean = true,
      idPushLimit: Int = 1000,
      maxBucketPostings: Option[Int] = None): DataFrame = {
    require(maxBucketPostings.forall(_ >= 1),
      "maxBucketPostings must be >= 1 when set")
    // ONE pin for the whole probe: params, bands and shingles all read
    // at the same composite version, so an upsert landing mid-probe
    // can't serve this probe a mixed state
    val p0 = pin(spark, path)
    val p = paramsAt(spark, path, p0)
    val shB = shingled(batch, idCol, textCol, p.shingleSize)
    try {
      val bandsB = Dedup.bandFrame(shB, p.numHashes, p.bands)
        .localCheckpoint(true)
      try {
        // Corpus-vs-batch collisions: one band-table scan ⋈ BROADCAST
        // batch bands (scan-time hash probe — corpus rows that match
        // no batch bucket die in the join, never shuffle). For a SMALL
        // probe (≤ idPushLimit buckets) additionally push `bucket IN`
        // into the parquet scan: Spark 4 pushes it as ONE parquet In
        // predicate (not the min/max range degradation of earlier
        // versions), which the reader evaluates against BOTH the
        // footer stats (effective after [[compact]] range-sorts on
        // bucket) and the bucket BLOOM written at [[build]] (effective
        // from the first committed version — measured 35x row-group
        // skip at 5 values, 3.8x at 50, graceful by 500). A larger
        // batch still skips the literal list: an IN over tens of
        // thousands of literals costs more in ANALYSIS than the scan
        // it prunes (measured: 4k docs × 32 bands = 128k literals
        // turned a ~10 s probe into 32 s). The stale-copy exclusion
        // (a replaced id must not pair with its own old version)
        // filters on cid AFTER the join, where only collision rows
        // remain.
        val buckets = graft.util.Pushdown.keyLiterals(bandsB, "bucket", idPushLimit)
        val corpusScan0 = MergeTable.readAt(
          spark, componentPath(path, p0.bands.dir), p0.bands.version)
        val corpusScan = buckets match {
          case Some(bs) => corpusScan0.filter(col("bucket").isin(bs: _*))
          case None => corpusScan0
        }
        // ALL batch ids, from the raw batch: a NULL-text batch row
        // (content retraction in flight) carries no shingles but must
        // still exclude its stale corpus copy from pairing
        val batchIdF = batch.select(col(idCol).as("id"))
          .filter(col("id").isNotNull).distinct()
        val bandsBKeyed =
          bandsB.select(col("band"), col("bucket"), col("id").as("bid"))
        // `maxBucketPostings` is the degenerate-bucket guard — the
        // [[LexicalIndex]] maxDfFraction analog for collision buckets.
        // A boilerplate family of k near-identical docs puts k corpus
        // postings into the SAME (band, bucket); every batch doc
        // hitting that family would contribute k candidate pairs per
        // colliding band (the k² hazard the banded batch operators
        // bound by never materializing cross-products). With the cap,
        // per-bucket corpus postings are counted on the LINEAR
        // matched-postings frame — before any batch-id join can square
        // it — and hot buckets are dropped whole. Recall tradeoff: a
        // pair is lost only if hot buckets were its ONLY collisions,
        // which concentrates exactly on the degenerate family being
        // bounded; run [[Dedup.exactByContent]] upstream so identical
        // docs never reach the near-dup layer, and hot buckets then
        // mean spam/boilerplate. None (default) = exact, the
        // q113/q33-parity contract.
        // the guard's `hits` checkpoint (counts + join each scan it
        // once) stays alive until the FINAL collide frame materializes
        // — an intermediate checkpoint here would have no explicit
        // free and leak blocks on every guarded probe
        var guardHits: Option[DataFrame] = None
        val collidePre = maxBucketPostings match {
          case None =>
            corpusScan
              .select(col("band"), col("bucket"), col("id").as("cid"))
              .join(broadcast(bandsBKeyed), Seq("band", "bucket"))
          case Some(cap) =>
            // stale copies of replaced/retracted ids are excluded
            // BEFORE counting: they can no longer pair, so they must
            // not push an effective-postings-within-cap bucket over it
            val hits = corpusScan
              .select(col("band"), col("bucket"), col("id").as("cid"))
              .join(broadcast(batchIdF.withColumnRenamed("id", "cid")),
                Seq("cid"), "left_anti")
              .join(broadcast(bandsB.select(col("band"), col("bucket")).distinct()),
                Seq("band", "bucket"))
              .localCheckpoint(true)
            guardHits = Some(hits)
            val hot = hits.groupBy(col("band"), col("bucket"))
              .agg(count(lit(1)).as("__n"))
              .filter(col("__n") > cap)
              .select(col("band"), col("bucket"))
            hits.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
              .join(broadcast(bandsBKeyed), Seq("band", "bucket"))
        }
        val collide =
          try collidePre
            .join(broadcast(batchIdF.withColumnRenamed("id", "cid")),
              Seq("cid"), "left_anti")
            .select(col("cid"), col("bid")).distinct()
            .localCheckpoint(true)
          finally guardHits.foreach(Dedup.freeCheckpoint)

        try {
          // Verification store, CANDIDATE-PRUNED: the shingle table is
          // corpus-sized, so a probe must never scan it whole. A small
          // candidate set pushes `id IN (...)` into the parquet scan
          // (doc ids are write-ordered, so row-group stats actually
          // prune, unlike hash buckets); anything larger semi-joins
          // against the broadcast collision frame — scan-time hash
          // probe, never a driver-side literal explosion.
          val cids = graft.util.Pushdown.keyLiterals(collide, "cid", idPushLimit)
          val corpusShAll = MergeTable.readAt(
            spark, componentPath(path, p0.shingles.dir), p0.shingles.version)
          val corpusSh = cids match {
            case Some(cs) => corpusShAll.filter(col("id").isin(cs: _*))
            case None => corpusShAll.join(
              broadcast(collide.select(col("cid").as("id")).distinct()),
              Seq("id"), "left_semi")
          }

          val candCB = collide
            .select(least(col("cid"), col("bid")).as("id_a"),
              greatest(col("cid"), col("bid")).as("id_b"))
            .distinct()
          // in-batch candidates: the self-join squares per-bucket
          // batch membership, so the degenerate-bucket guard applies
          // HERE too — a boilerplate family arriving inside one batch
          // is the same k² hazard as one accumulated in the corpus
          val bandsBSelf = maxBucketPostings match {
            case None => bandsB
            case Some(cap) =>
              val hotB = bandsB.groupBy(col("band"), col("bucket"))
                .agg(count(lit(1)).as("__n"))
                .filter(col("__n") > cap)
                .select(col("band"), col("bucket"))
              bandsB.join(broadcast(hotB), Seq("band", "bucket"), "left_anti")
          }
          val candBB =
            if (!includeBatchPairs) candCB.limit(0)
            else bandsBSelf.select(col("band"), col("bucket"), col("id").as("id_a"))
              .join(bandsBSelf.select(col("band"), col("bucket"), col("id").as("id_b")),
                Seq("band", "bucket"))
              .filter(col("id_a") < col("id_b"))
              .select(col("id_a"), col("id_b"))
              .distinct()
          val candidates = candCB.unionByName(candBB).distinct()

          // batch side of the store wins over a replaced id's stale
          // corpus row (corpus rows with batch ids were excluded above)
          val allSh = shB.unionByName(corpusSh)

          candidates
            .join(allSh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
            .join(allSh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
            .withColumn("jaccard",
              size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
                size(array_union(col("sh_a"), col("sh_b"))))
            .filter(col("jaccard") >= threshold)
            .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
            .localCheckpoint(true) // materialize the (small) pair set
        } finally Dedup.freeCheckpoint(collide)
      } finally Dedup.freeCheckpoint(bandsB)
    } finally graft.util.Checkpoints.free(shB)
  }

  /** The admission gate composed: the batch rows that are NOT a
    * near-duplicate of the indexed corpus. A batch row is dropped when
    * it pairs with any incumbent corpus doc, or with any SMALLER-ID
    * batch row (conservative pairwise rule: a dropped batch row still
    * suppresses its own near-dups — exactly one survivor per dup
    * clique; a chain A~B~C where A̸~C keeps only A). The typical
    * ingest step is `admit` → [[upsert]] the survivors.
    *
    * EAGER: the survivor frame materializes before the internal pair
    * checkpoint is freed (the file's convention — the result must not
    * depend on released blocks).
    *
    * The batch is READ ONCE: the reduced batch is localCheckpoint'd on
    * entry ([[graft.util.Checkpoints.withMaterialized]]) and every
    * scan of the probe and the survivor join reads that checkpoint, so
    * a lazy upstream (a curation chain, an embedder) runs once per
    * call, not once per scan.
    *
    * The batch is reduced to ONE row per id up front
    * ([[Dedup.onePerKeyNullsKept]]): the pairwise candidate rule
    * (strict id_a < id_b) can never pair two rows sharing an id, so
    * same-id duplicates would BOTH pass the gate and then collapse
    * arbitrarily in the follow-up [[upsert]]'s keyed merge. The
    * streaming path ([[graft.streaming.IndexMaintenance]]) reduces
    * before calling; this makes the guarantee hold for direct callers
    * too (idempotent when ids are already unique). NULL-id rows keep
    * their pass-through semantics (no identity to reduce under or to
    * pair with) rather than collapsing into one arbitrary survivor. */
  def admit(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.8,
      maxBucketPostings: Option[Int] = None): DataFrame =
    admitOnePerId(spark, path, Dedup.onePerKeyNullsKept(batch, idCol),
      idCol, textCol, threshold, maxBucketPostings)

  /** [[admit]] minus the up-front one-per-id reduction, for callers
    * that have ALREADY reduced the batch (the streaming path runs
    * [[Dedup.deterministicOnePerKey]] with version-aware resolution
    * before gating — re-reducing every micro-batch here would add a
    * window shuffle plus a fingerprint scan to the hot ingest path for
    * nothing). The caller's guarantee: at most one row per non-null
    * id. NULL-id rows pass through as in [[admit]]. The batch is
    * materialized once on entry, as in [[admit]]. */
  private[graft] def admitOnePerId(
      spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      maxBucketPostings: Option[Int]): DataFrame =
    graft.util.Checkpoints.withMaterialized(batch) { batch1 =>
      val pairs = nearDupsAgainst(spark, path, batch1, idCol, textCol, threshold,
        maxBucketPostings = maxBucketPostings)
      try {
        val batchIds = batch1.select(col(idCol)).distinct()
        // pairs are normalized id_a < id_b, and corpus incumbents are
        // never killed: batch id X dies iff it appears as id_b of any
        // pair (the other side is a corpus doc or a smaller batch id),
        // or as id_a of a pair whose id_b is a corpus doc (the batch doc
        // drew the smaller id, but the incumbent still wins).
        val dead = pairs.select(col("id_b").as("__dead"))
          .unionByName(
            pairs.join(batchIds.withColumnRenamed(idCol, "id_a"), Seq("id_a"), "left_semi")
              .join(batchIds.withColumnRenamed(idCol, "id_b"), Seq("id_b"), "left_anti")
              .select(col("id_a").as("__dead")))
          .distinct()
        batch1.join(dead, batch1(idCol) === dead("__dead"), "left_anti")
          .localCheckpoint(true)
      } finally Dedup.freeCheckpoint(pairs)
    }

  /** (id, shingles) checkpointed; NULL-text rows dropped (no content
    * to be a duplicate of) and NULL-id rows dropped (no identity to
    * pair under — a NULL id riding into the candidate join would
    * surface as a bogus self-pair via least/greatest's null-skipping,
    * and a MergeTable key may not be NULL anyway). */
  private def shingled(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    Dedup.shingleFrame(
        docs.filter(col(textCol).isNotNull && col(idCol).isNotNull),
        idCol, textCol, shingleSize)
      .localCheckpoint(true)
}
