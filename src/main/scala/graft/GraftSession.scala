package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.kb.KnowledgeBase
import graft.safety.{SafeSql, SqlSafety}
import graft.search.{Embedder, SearchService}
import graft.tools.Tools

/** User-facing facade: everything a user of the reference system does —
  * knowledge-base search, smart multi-source search, safe SQL, tool
  * dispatch — behind one object, so switching from the reference means
  * constructing a GraftSession instead of a FastAPI client.
  *
  * {{{
  * val g = GraftSession(spark, embedder = HashEmbedder(1536))
  * g.loadKnowledgeBase(spark.read.parquet(".../knowledge_base"))
  * val hits  = g.searchKnowledge("how to fix OOM", k = 5)           // §3.1 J1
  * val (res, _) = g.smartSearch(sources, "spark join slow")          // §3.1
  * val safe  = g.sql("SELECT * FROM tasks WHERE status = :s", Map("s" -> "Completed"))
  * }}}
  */
final case class GraftSession(
    spark: SparkSession,
    embedder: Embedder,
    tools: Tools.Registry = new Tools.Registry()) {

  @volatile private var kbDf: Option[DataFrame] = None
  @volatile private var lexIndexPath: Option[String] = None
  @volatile private var dedupIndexPath: Option[String] = None
  @volatile private var semIndexPath: Option[String] = None

  /** Swap in a new KB under the session lock with its lineage truncated:
    * without the (lazy) localCheckpoint, a long-lived session would
    * stack every smartSearch's union/window/dedup on top of the last,
    * and each later action would re-execute the whole history.
    *
    * Tradeoff: localCheckpoint blocks live on executors (not reliable
    * storage) and are unrecoverable if an executor is lost — fine for
    * the single-JVM/local deployments this facade targets; a clustered
    * long-lived session should write the KB to a table and reload. */
  private def setKb(df: DataFrame): Unit =
    kbDf = Some(df.localCheckpoint(eager = false))

  def loadKnowledgeBase(df: DataFrame): this.type =
    synchronized { setKb(df); this }
  def knowledgeBase: DataFrame =
    kbDf.getOrElse(throw new IllegalStateException("knowledge base not loaded"))

  /** Embed the query and run match_documents (preprocess → embed → J1). */
  def searchKnowledge(query: String, k: Int = 5,
      source: Option[String] = None): DataFrame = {
    val processed = SearchService.preprocess(spark, query)
    val qv = embedder.embed(Seq(processed)).head
    KnowledgeBase.matchDocuments(knowledgeBase, qv, k, source)
  }

  /** [[searchKnowledge]]'s hybrid sibling: the vector ranking fused by
    * reciprocal rank with a BM25 lexical ranking over the content
    * column ([[KnowledgeBase.hybridSearch]]) — exact identifiers and
    * rare terms hit lexically even when the embedding misses. The KB
    * frame must carry a unique `idCol`.
    *
    * When [[buildLexicalIndex]] has run, the lexical leg is served from
    * the persisted index ([[KnowledgeBase.hybridSearchIndexed]]) — the
    * per-query cost drops from a corpus tokenization to a pushed-down
    * postings scan, the serving analog of the reference's per-chat-turn
    * RPC (`search_service.py:259-270`).
    *
    * `maxDfFraction` (indexed path only) drops query terms whose
    * document frequency exceeds that fraction of the corpus before the
    * postings scan — the stopword guard for free-text queries against
    * big indexes. 1.0 = keep every term (bit-exact with the fresh
    * path); the un-indexed fallback tokenizes the corpus anyway and
    * ignores it. */
  def hybridSearchKnowledge(query: String, k: Int = 5,
      idCol: String = "id", contentCol: String = "content",
      maxDfFraction: Double = 1.0): DataFrame = {
    val processed = SearchService.preprocess(spark, query)
    val qv = embedder.embed(Seq(processed)).head
    lexIndexPath match {
      case Some(path) => KnowledgeBase.hybridSearchIndexed(
        knowledgeBase, idCol, processed, qv, path, k,
        maxDfFraction = maxDfFraction)
      case None => KnowledgeBase.hybridSearch(knowledgeBase, idCol, contentCol,
        processed, qv, k)
    }
  }

  /** Build a persisted BM25 inverted index over the held KB's content
    * at `path` ([[graft.operators.LexicalIndex]]) and serve every later
    * [[hybridSearchKnowledge]]'s lexical leg from it.
    *
    * The index captures the KB AS OF THIS CALL: later mutations
    * ([[smartSearch]]'s upsert, [[cleanupExpired]]) leave it stale —
    * standard index-lags-writes serving behavior. Refresh by calling
    * this again at a fresh path, or maintain it incrementally with
    * [[graft.operators.LexicalIndex.upsert]] on your ingest batches. */
  def buildLexicalIndex(path: String, idCol: String = "id",
      contentCol: String = "content"): this.type = synchronized {
    graft.operators.LexicalIndex.build(spark, path, knowledgeBase, idCol, contentCol)
    lexIndexPath = Some(path)
    this
  }

  /** One-call near-dup index over the held KB ([[graft.operators
    * .DedupIndex.build]]) + remember its path: later
    * [[admitDocuments]] calls probe it. Same staleness contract as
    * [[buildLexicalIndex]]: the index captures the KB as of this
    * call; keep it fresh with [[graft.operators.DedupIndex.upsert]]
    * on your ingest batches (or let [[graft.streaming
    * .IndexMaintenance]] do both the gating and the upkeep). */
  def buildDedupIndex(path: String, idCol: String = "id",
      contentCol: String = "content"): this.type = synchronized {
    graft.operators.DedupIndex.build(spark, path, knowledgeBase, idCol, contentCol)
    dedupIndexPath = Some(path)
    this
  }

  /** One-call SEMANTIC dedup index over the held KB's embeddings
    * ([[graft.operators.SemanticIndex.buildKmeans]] — coarse k-means
    * quantizer trained on a sample, every KB vector persisted with
    * its pinned cluster assignment) + remember its path: later
    * [[admitDocumentsSemantic]] calls probe it. Same staleness
    * contract as [[buildDedupIndex]]; maintain incrementally with
    * [[graft.operators.SemanticIndex.upsert]] on your ingest batches.
    * Pick `nClusters` so clusters stay ~1e3-1e4 rows — probe cost is
    * |batch| × (corpus / nClusters) candidate cosines. */
  def buildSemanticIndex(path: String, nClusters: Int,
      idCol: String = "id", vecCol: String = "embedding",
      kmeansIters: Int = 10,
      trainSampleFraction: Double = 1.0): this.type = synchronized {
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      s"trainSampleFraction must be in (0, 1], got $trainSampleFraction")
    val kb = knowledgeBase
    val train =
      if (trainSampleFraction >= 1.0) kb
      else kb.sample(withReplacement = false, trainSampleFraction, seed = 42)
    val cents = graft.operators.SimilaritySearch.kmeansCentroids(
      train, idCol, vecCol, nClusters, kmeansIters)
    graft.operators.SemanticIndex.build(spark, path, kb, idCol, vecCol, cents)
    semIndexPath = Some(path)
    this
  }

  /** The SEMANTIC admission gate over the session's semantic index
    * ([[graft.operators.SemanticIndex.admit]]): the batch rows whose
    * embedding is NOT within cosine `tau` of an indexed vector (the
    * incumbent wins) or of a better-ranked batchmate (SemDeDup's
    * keep-the-outlier rule) — [[admitDocuments]]'s contract lifted
    * from word shingles to embedding semantics. Requires
    * [[buildSemanticIndex]] first. Probes only; pair survivors with
    * [[graft.operators.SemanticIndex.upsert]]. Reads `batch` once and
    * returns it EAGERLY MATERIALIZED like [[admitDocuments]] — free
    * with [[graft.util.Checkpoints.free]] in long ingest loops. */
  def admitDocumentsSemantic(batch: DataFrame, tau: Double,
      idCol: String = "id", vecCol: String = "embedding"): DataFrame = {
    val path = semIndexPath.getOrElse(throw new IllegalStateException(
      "no semantic index: call buildSemanticIndex first"))
    graft.operators.SemanticIndex.admit(spark, path, batch, idCol, vecCol, tau)
  }

  /** The near-dup admission gate over the session's dedup index: the
    * batch rows that are NOT a near-duplicate (word-shingle Jaccard >=
    * `threshold`) of the indexed corpus or of a smaller-id batchmate —
    * the reference's content-hash insert gate
    * (`backend/services/vector_service.py:104-125`), upgraded from
    * exact to near-duplicate. Requires [[buildDedupIndex]] first.
    * Probes only; pair the survivors with [[graft.operators.DedupIndex
    * .upsert]] (and [[upsertIndexedKnowledge]]) to admit them.
    *
    * `batch` is read ONCE: the gate localCheckpoints the reduced batch
    * on entry and frees it on return, so a lazy upstream (an embedder,
    * a curation chain) is not re-run by each of the probe's scans.
    * The returned frame is EAGERLY MATERIALIZED (localCheckpoint —
    * the operator convention): in a long-running ingest loop, release
    * its storage blocks with [[graft.util.Checkpoints.free]] once the
    * batch's upserts land, as [[graft.streaming.IndexMaintenance]]
    * does per micro-batch; otherwise they hold until driver GC. */
  def admitDocuments(batch: DataFrame, threshold: Double = 0.8,
      idCol: String = "id", contentCol: String = "content"): DataFrame = {
    val path = dedupIndexPath.getOrElse(throw new IllegalStateException(
      "no dedup index: call buildDedupIndex first"))
    graft.operators.DedupIndex.admit(spark, path, batch, idCol, contentCol, threshold)
  }

  /** One-call IVF indexing of the held KB — the ivfflat ergonomics of
    * the reference (`knowledge_base-RAG.sql:31-33`: the index is created
    * once with the table, and every later query uses it untouched):
    * train the coarse quantizer ([[graft.operators.SimilaritySearch
    * .kmeansCentroids]]), persist the KB with its cluster assignment at
    * `path`, register the planner rule ([[graft.plans.IvfIndex]]), and
    * reload the file-backed table as the session KB — every later
    * [[searchKnowledge]] / [[hybridSearchKnowledge]] vector ranking is
    * planner-pruned to the `nprobe` nearest clusters with no caller
    * change. Requires [[GraftExtensions]] on the session (the rule must
    * be injected). With `nprobe >= nClusters` the rewrite is exact.
    *
    * Like [[buildLexicalIndex]], the index captures the KB as of this
    * call: a later mutation ([[smartSearch]]'s upsert,
    * [[cleanupExpired]]) swaps the held frame for a checkpointed one
    * whose plan the rule cannot match, so those sessions fall back to
    * the exact scan until indexKnowledge runs again — stale-index
    * answers are never served.
    *
    * Calling this on a path with a COMMITTED layout is a zero-downtime
    * retrain: the new generation's reassignment (fresh centroids —
    * cluster ids change meaning) is appended as new files and committed
    * as the next manifest version, whose header pins the generation's
    * own quantizer side dirs; readers of earlier versions keep their
    * files and their generation's quantizers until vacuum. */
  /** `explicitPin` records whether the session chose its version
    * deliberately (openIndexedKnowledge(version = Some(N)) — the fork/
    * rollback intent) or just opened latest: only an explicit pin may
    * commit from a base that is no longer latest. */
  private case class IvfState(path: String, idCol: String, vecCol: String,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int,
      pqCodebooks: Option[Array[Array[Array[Float]]]] = None,
      version: Long = 1L, explicitPin: Boolean = false)
  @volatile private var ivfState: Option[IvfState] = None

  // --- versioned publication for the IVF layout ------------------------
  // The index data lives in `path/cluster=<c>/part-*.parquet` (the
  // ivfflat list layout, pruned at the directory level), and the files
  // CURRENTLY SERVED are the closed list in the latest
  // `path/_ivf_manifests/v<N>` ([[graft.sources.Manifests]] — the
  // MergeTable commit primitive). Readers pin one version's file list at
  // registration time; an upsert appends new files and flips the
  // manifest atomically, so a search planned against version N never
  // observes a mixed snapshot or a deleted file — superseded files stay
  // on disk until [[vacuumIndexedKnowledge]] reclaims them past a grace.

  private def ivfFs(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
  private def ivfManifestDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_ivf_manifests")
  /** Scheme-free absolute path — [[graft.sources.Manifests
    * .normalizePath]], the shared canonical form. */
  private def normalizePath(s: String): String =
    graft.sources.Manifests.normalizePath(s)
  private def clusterOfFile(f: String): Int = {
    val m = "cluster=(-?\\d+)".r.findFirstMatchIn(f).getOrElse(
      throw new IllegalStateException(s"manifest file outside a cluster dir: $f"))
    m.group(1).toInt
  }
  /** Every data file under the layout's cluster directories, with its
    * exact listed size — what lets every later open build the relation
    * from the manifest alone ([[graft.sources.ClusteredManifestFileIndex]]). */
  private def listClusterFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[graft.sources.MergeTable.FileEntry] =
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("cluster="))
      .flatMap(d => fs.listStatus(d.getPath).filter(_.isFile)
        .map(s => graft.sources.MergeTable.FileEntry(
          s.getPath.toUri.toString, s.getLen)))
      .filter(e => { val n = new org.apache.hadoop.fs.Path(e.path).getName
        n.startsWith("part-") && n.endsWith(".parquet") })
      .toSeq.sortBy(_.path)
  /** Write `df` (bearing a `cluster` column) as this writer's OWN new
    * files in the layout: stage under `_staging/<uuid>` (underscore —
    * invisible to partition discovery), then rename each part file
    * into its cluster directory and return exactly the files this
    * writer produced. A listing diff could capture a CONCURRENT
    * writer's in-flight files into this writer's manifest — staged
    * names can't. Renames are atomic per file on HDFS-like
    * filesystems; on rename-as-copy object stores this costs one copy
    * (the direct-write alternative needs committer task hooks this
    * library stays out of). Part names carry the staging job's UUID,
    * so they cannot collide with existing files. */
  private def stageNewFiles(df: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[graft.sources.MergeTable.FileEntry] = {
    import org.apache.spark.sql.functions.col
    val staging = new org.apache.hadoop.fs.Path(root,
      "_staging/" + java.util.UUID.randomUUID())
    // repartition on cluster: one file per cluster per write, not one
    // per shuffle task (the indexKnowledge convention)
    df.repartition(col("cluster"))
      .write.mode("errorifexists").partitionBy("cluster")
      .parquet(staging.toString)
    val moved = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      .flatMap { d =>
        val target = new org.apache.hadoop.fs.Path(root, d.getPath.getName)
        fs.mkdirs(target)
        fs.listStatus(d.getPath)
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-") &&
            s.getPath.getName.endsWith(".parquet"))
          .map { s =>
            val p = s.getPath
            val t = new org.apache.hadoop.fs.Path(target, p.getName)
            if (!fs.rename(p, t))
              throw new IllegalStateException(s"rename $p -> $t failed")
            // rename moves the inode — the staged length IS the final
            // length, recorded into the manifest so opens never re-stat
            graft.sources.MergeTable.FileEntry(t.toUri.toString, s.getLen)
          }
      }.toSeq.sortBy(_.path)
    fs.delete(staging, true)
    moved
  }

  /** A manifest's data entries (header excluded) — the shared
    * `path\tsize` codec; pre-size lines decode as legacy (−1). */
  private def entriesOf(lines: Seq[String]): Seq[graft.sources.MergeTable.FileEntry] =
    lines.filterNot(isHeader).map(graft.sources.MergeTable.decodeEntry)

  /** The relation over a version's entries. With recorded sizes (every
    * manifest this code writes) the relation is built from the manifest
    * alone via the PARTITIONED zero-listing index — the `cluster`
    * column is parsed from each recorded path, so the planner rule's
    * probe filter prunes the file list exactly like a directory read,
    * with no per-path listing job (19.5 s at 10k files through
    * `spark.read.parquet` — ManifestScaleDemo/IvfOpenScaleDemo).
    * Legacy size-less manifests keep the basePath listing read. */
  private def relationOfEntries(
      entries: Seq[graft.sources.MergeTable.FileEntry],
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): DataFrame =
    if (entries.nonEmpty && entries.forall(_.size >= 0))
      graft.sources.ClusteredManifestFileIndex.relation(spark, "cluster",
        entries.groupBy(e => clusterOfFile(e.path)).toSeq.sortBy(_._1))
    else
      spark.read.option("basePath", fs.makeQualified(root).toString)
        .parquet(entries.map(_.path): _*)

  /** The version's relation, resolved version, and RAW manifest lines
    * (header included — callers parse the quantizer pointer from the
    * in-hand lines via [[sideStateOf]] instead of re-reading the
    * manifest, which would reopen the swept-tip race per extra read). */
  private def readIndexSnapshot(
      path: String,
      version: Option[Long] = None): (DataFrame, Long, Seq[String]) = {
    val (fs, root) = ivfFs(path)
    val dir = ivfManifestDir(root)
    // latest goes through the swept-tip retry (the IVF log has version
    // retention now — a concurrent commit+vacuum can reclaim the
    // resolved tip between the listStatus and the read); an EXPLICIT
    // version keeps the loud travel-ended failure, raised from the read
    // itself (an exists pre-check would be a TOCTOU against the sweep)
    val (v, lines) = version match {
      case None =>
        graft.sources.Manifests.latestLines(fs, dir)(
          throw new IllegalStateException(s"no committed IVF manifest at $path"))
      case Some(v0) =>
        (v0, graft.sources.Manifests.readPinned(fs, dir, v0, path))
    }
    (relationOfEntries(entriesOf(lines), fs, root), v, lines)
  }

  /** Run `f` (a read of the SESSION-PINNED manifest `v`), converting a
    * FileNotFound into actionable guidance: with version retention on
    * the IVF log, another session's vacuum can reclaim a superseded
    * pin's manifest, and the raw FileNotFoundException would otherwise
    * preempt the deliberate stale-pin message the commit path raises.
    * A missing LOG (layout deleted, wrong path) is diagnosed apart —
    * blaming a sweep there would send the operator chasing a race that
    * never happened. Covers the manifest read only: the pin's DATA
    * files carry the age-keyed retention contract (a scan can still
    * lose them mid-query past the grace; reopen + re-run is the remedy
    * either way). */
  private def pinnedManifest[T](
      fs: org.apache.hadoop.fs.FileSystem, mDir: org.apache.hadoop.fs.Path,
      path: String, v: Long)(f: => T): T =
    try f
    catch {
      case e: java.io.FileNotFoundException =>
        if (graft.sources.Manifests.latestVersion(fs, mDir).isEmpty)
          throw new IllegalStateException(
            s"no committed IVF manifest at $path — the layout was deleted " +
              "or the path is wrong", e)
        throw new IllegalStateException(
          s"session pin v$v at $path no longer resolves: superseded and " +
            "reclaimed by a retention sweep (a concurrent session's " +
            "vacuum), or the layout was rebuilt since this session " +
            "opened — reopen with openIndexedKnowledge and re-run", e)
    }

  /** The quantizer pointer travels INSIDE the data manifest as a
    * header line, so a version's files and the quantizers they were
    * assigned with commit in ONE atomic create — no ordering window
    * where a committed version resolves a foreign generation. A
    * rebuild's manifest points at its new generation's side dirs; an
    * upsert carries its base's header verbatim. */
  private def quantizerHeader(centsDir: String, cbDir: Option[String]): String =
    s"#quantizers centroids=$centsDir codebooks=${cbDir.getOrElse("-")}"
  private def isHeader(line: String): Boolean = line.startsWith("#")
  /** (centroids dir, codebooks dir) parsed from a manifest's IN-HAND
    * lines — every caller already holds the version's lines, so the
    * quantizer pointer never costs a second manifest read (which would
    * reopen the swept-tip race per extra read, and double the log RPCs
    * on every open/upsert/delete/vacuum). Headerless manifests
    * (pre-generation layouts, the open-adopt commit) fall back to the
    * flat side-dir names. */
  private def sideStateOf(lines: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (String, Option[String]) = {
    val header = lines.find(isHeader)
    header.flatMap { h =>
      val kv = h.split("\\s+").flatMap(_.split("=", 2) match {
        case Array(k, value) => Some(k -> value)
        case _ => None
      }).toMap
      kv.get("centroids").map(c => (c, kv.get("codebooks").filter(_ != "-")))
    }.getOrElse {
      ("_ivf_centroids",
        if (fs.exists(new org.apache.hadoop.fs.Path(root, "_pq_codebooks")))
          Some("_pq_codebooks")
        else None)
    }
  }

  /** Committed versions of the indexed KB's manifest log, oldest
    * first — what [[openIndexedKnowledge]]'s `version` accepts. */
  def indexedKnowledgeVersions: Seq[Long] = {
    val st = ivfState.getOrElse(throw new IllegalStateException(
      "indexKnowledge has not run in this session"))
    val (fs, root) = ivfFs(st.path)
    graft.sources.Manifests.listVersions(fs, ivfManifestDir(root))
  }

  /** @param trainSampleFraction fraction of the KB the coarse
    *        quantizer trains on. 1.0 (default) keeps small-KB behavior;
    *        at corpus scale pass ~100k/|kb| — the farthest-point
    *        seeding makes one full pass per seed, so full-corpus
    *        training is quadratic-ish in practice while a sample
    *        saturates quantizer quality (standard IVF practice,
    *        measured in AnnRecallDemo).
    *  @param pqM > 0 upgrades the layout to ivfpq: PQ codebooks (`pqM`
    *        subspaces × `pqK` byte codes) are trained on the same
    *        sample, every row is encoded into a `pq_codes` column, and
    *        [[searchKnowledgePq]] serves codes-only ADC reads. 0
    *        (default) keeps the plain ivfflat layout. */
  def indexKnowledge(path: String, nClusters: Int, nprobe: Int,
      idCol: String = "id", vecCol: String = "embedding",
      kmeansIters: Int = 10,
      trainSampleFraction: Double = 1.0,
      pqM: Int = 0, pqK: Int = 256, pqIters: Int = 5): this.type = synchronized {
    import graft.operators.SimilaritySearch
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      s"trainSampleFraction must be in (0, 1], got $trainSampleFraction")
    // the IVF layout stores/compares paths with the same URI-string
    // idiom as MergeTable manifests — same corruption for roots that
    // percent-encode, refused at the same point: creation
    locally {
      val (gFs, gRoot) = ivfFs(path)
      graft.sources.Manifests.requireRoundTrippableRoot(gFs, gRoot, "IVF layout")
    }
    val kb = knowledgeBase
    val train =
      if (trainSampleFraction >= 1.0) kb
      else kb.sample(withReplacement = false, trainSampleFraction, seed = 42)
    val cents = SimilaritySearch.kmeansCentroids(train, idCol, vecCol,
      nClusters, kmeansIters).localCheckpoint(true)
    val cb =
      if (pqM > 0) Some(SimilaritySearch.pqTrain(train, idCol, vecCol,
        pqM, pqK, pqIters))
      else None
    val assigned0 = SimilaritySearch.assignClusters(kb, vecCol, cents)
    val assigned = cb.fold(assigned0)(
      SimilaritySearch.pqEncodeAll(assigned0, vecCol, _))
    // PARTITION the persisted KB by cluster (the ivfflat list layout):
    // the planner rule's `cluster IN (probed)` filter then prunes at the
    // DIRECTORY level and a probe reads ~nprobe/nClusters of the bytes.
    // Written flat, the same filter still skips the cosine on non-probed
    // rows but every file is read — IO stays corpus-sized (measured in
    // AnnRecallDemo). repartition on the cluster column first so each
    // cluster directory holds one file, not one per shuffle task.
    val (fs, root) = ivfFs(path)
    val toWrite = assigned
      .repartition(org.apache.spark.sql.functions.col("cluster"))
    val prior = graft.sources.Manifests.latestVersion(fs, ivfManifestDir(root))
    val (newFiles, commitV, centsDir, cbDir) = prior match {
      case None =>
        // fresh build: overwrite clears any uncommitted debris at path
        toWrite.write.mode("overwrite").partitionBy("cluster").parquet(path)
        (listClusterFiles(fs, root), 1L, "_ivf_centroids", "_pq_codebooks")
      case Some(latest) =>
        // IN-PLACE VERSIONED REBUILD (zero reader downtime): the new
        // generation's reassignment lands as new staged files — cluster
        // ids now mean the NEW centroids, so the manifest lists only
        // this generation's files and the generation's quantizers land
        // in their own side dirs, pinned by the manifest header.
        // Readers of committed versions keep their files; disk
        // transiently holds both generations until vacuum.
        // WRITER-UNIQUE side-dir names (like staged part files): two
        // racing rebuilds both target generation g, and a deterministic
        // name would let the commit-race LOSER overwrite the winner's
        // already-committed quantizers — pairing a committed version
        // with foreign centroids. The manifest header pins the exact
        // name, so readers resolve only their own generation's dirs.
        val g = latest + 1
        val tag = java.util.UUID.randomUUID().toString.take(8)
        (stageNewFiles(assigned, fs, root), g,
          s"_ivf_centroids_g${g}_$tag", s"_pq_codebooks_g${g}_$tag")
    }
    // side state BEFORE the manifest/meta commit: a version must never
    // be resolvable before its quantizers exist. underscore-prefixed
    // children are invisible to partition discovery, so the data read
    // never picks them up — and a later session can openIndexedKnowledge
    // without retraining either quantizer.
    cents.write.mode("overwrite").parquet(s"$path/$centsDir")
    cb.foreach(SimilaritySearch.pqSaveCodebooks(spark, s"$path/$cbDir", _))
    try graft.sources.Manifests.commit(fs, ivfManifestDir(root), commitV,
      quantizerHeader(centsDir, cb.map(_ => cbDir)) +:
        newFiles.map(graft.sources.MergeTable.encodeEntry))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent writer committed v$commitV at $path first; this " +
            "rebuild's files and quantizer dirs are orphans (vacuum " +
            "reclaims them) — re-run against the new snapshot")
    }
    val (reloaded, v, _) = readIndexSnapshot(path, Some(commitV))
    graft.plans.IvfIndex.register(spark, reloaded, "cluster", vecCol, cents, nprobe)
    // NOT setKb: the registration binds to the parquet scan paths, and a
    // localCheckpoint would swap the plan's leaf for a LogicalRDD the
    // rule can't match; the file-backed frame is already lineage-free
    kbDf = Some(reloaded)
    ivfState = Some(IvfState(path, idCol, vecCol, cents, nprobe, cb, v))
    this
  }

  /** Reopen an index a previous session built with [[indexKnowledge]]
    * — loads the persisted coarse centroids (and PQ codebooks, if the
    * layout is ivfpq), registers the planner rule, and serves: the
    * train-once-at-ingest amortization. Nothing is retrained.
    *
    * `version` time-travels to an older committed manifest
    * ([[indexedKnowledgeVersions]] lists them) — the rollback story
    * for a bad ingest batch: reopen the last good version and the next
    * [[upsertIndexedKnowledge]] COMMITS A NEW VERSION BASED ON IT,
    * forking the bad batch out of the serving lineage (its manifest
    * stays readable until its files are vacuumed; like Delta's
    * RESTORE, [[vacuumIndexedKnowledge]] keeps only the latest and the
    * session-pinned version's files). Default: latest. */
  def openIndexedKnowledge(path: String, nprobe: Int,
      idCol: String = "id", vecCol: String = "embedding",
      version: Option[Long] = None): this.type =
    synchronized {
      import graft.operators.SimilaritySearch
      val (fs, root) = ivfFs(path)
      // a layout built before manifests existed is adopted as v1 — its
      // current directory contents become the first committed version
      // (a manifest-creation point, so the root must round-trip too)
      if (graft.sources.Manifests.latestVersion(fs, ivfManifestDir(root)).isEmpty) {
        graft.sources.Manifests.requireRoundTrippableRoot(fs, root, "IVF layout")
        graft.sources.Manifests.commit(fs, ivfManifestDir(root), 1L,
          listClusterFiles(fs, root).map(graft.sources.MergeTable.encodeEntry))
      }
      val (reloaded, v, vLines) = readIndexSnapshot(path, version)
      // the quantizers THAT VERSION was assigned with (a rebuild starts
      // a new generation; meta resolves per version, flat names for
      // pre-meta layouts) — parsed from the lines just read, never a
      // second manifest open
      val (centsDir, cbDirOpt) = sideStateOf(vLines, fs, root)
      val cents = spark.read.parquet(s"$path/$centsDir").localCheckpoint(true)
      val cb = cbDirOpt.map(d => SimilaritySearch.pqLoadCodebooks(spark, s"$path/$d"))
      graft.plans.IvfIndex.register(spark, reloaded, "cluster", vecCol, cents, nprobe)
      kbDf = Some(reloaded)
      ivfState = Some(IvfState(path, idCol, vecCol, cents, nprobe, cb, v,
        explicitPin = version.nonEmpty))
      this
    }

  /** Codes-only ANN read over the ivfpq layout: embed the query, prune
    * to the `nprobe` nearest coarse clusters (directory-level on the
    * partitioned layout), rank the ADC `shortlist` from the 8-byte-ish
    * codes without touching the float vectors, exact-rerank to `k`
    * ([[graft.operators.SimilaritySearch.ivfPqTopK]]). Returns
    * (idCol, l2sq) ascending. Requires [[indexKnowledge]] with
    * `pqM > 0` or [[openIndexedKnowledge]] over an ivfpq layout.
    * Size `shortlist` to cover the quantization-tied neighborhood
    * (AnnRecallDemo measures the curve). */
  def searchKnowledgePq(query: String, k: Int = 5,
      shortlist: Int = 100): DataFrame = {
    val st = ivfState.getOrElse(throw new IllegalStateException(
      "indexKnowledge has not run in this session"))
    val cb = st.pqCodebooks.getOrElse(throw new IllegalStateException(
      "the index is not ivfpq — rebuild with indexKnowledge(pqM > 0)"))
    val processed = SearchService.preprocess(spark, query)
    val qv = embedder.embed(Seq(processed)).head
    graft.operators.SimilaritySearch.ivfPqTopK(knowledgeBase, "cluster",
      st.idCol, st.vecCol, "pq_codes", st.cents, qv, cb, k, shortlist, st.nprobe)
  }

  /** Keyed upsert into the indexed KB WITHOUT retraining or a full
    * rewrite — the maintenance path [[graft.operators.LexicalIndex
    * .upsert]] gives the lexical index, for the IVF layout:
    *
    *  1. assign the batch to the EXISTING centroids (the coarse
    *     quantizer is fixed between rebuilds, like ivfflat's lists);
    *  2. rewrite only the touched CLUSTERS — the batch's clusters plus
    *     any cluster still holding an old version of an updated id (an
    *     update can move a doc across clusters; the old row must die
    *     where it lives). Their survivors + the batch land as NEW
    *     files (staged, then renamed into the cluster dirs); untouched
    *     clusters are carried into the next manifest by reference,
    *     never copied or rewritten;
    *  3. commit the next manifest and re-register, so later searches
    *     serve the new version through the same planner-pruned path.
    *
    * Against the stored table the batch row always wins. WITHIN the
    * batch, duplicate ids reduce DETERMINISTICALLY
    * ([[graft.operators.Dedup.deterministicOnePerKey]] — the same
    * reducer the streaming sink uses): highest `versionCol` wins when
    * given (the column is dropped before storage), and ties — or the
    * no-version case — break by a content fingerprint, so a replayed
    * batch converges to the same stored state in any partition order.
    *
    * Publication is ATOMIC FOR READERS: the upsert stages new files
    * for the touched clusters (nothing is deleted or overwritten),
    * then flips `_ivf_manifests` to the next
    * version with an exclusive-create commit
    * ([[graft.sources.Manifests]] — the MergeTable OCC primitive). A
    * search planned before the flip keeps reading its pinned version's
    * files (superseded files are reclaimed only by
    * [[vacuumIndexedKnowledge]], whose retention grace covers in-flight
    * queries); a search planned after sees exactly the new version.
    * Mutators are serialized per session; an accidental concurrent
    * writer from ANOTHER session loses the manifest race loudly (its
    * orphaned files are vacuumed) rather than corrupting the layout.
    *
    * Rewrite granularity is the cluster partition (same tradeoff as
    * any partition-level merge); for row-keyed touched-file-only merges
    * use the MergeTable-backed KB instead. Centroids drift as the
    * corpus grows — re-run [[indexKnowledge]] at the SAME path to
    * retrain when recall degrades: on an already-committed layout it
    * appends the new generation's reassignment and commits it as the
    * next version, so live readers keep their pinned files (zero
    * downtime; disk transiently holds both generations until vacuum). */
  def upsertIndexedKnowledge(docs: org.apache.spark.sql.DataFrame,
      versionCol: Option[String] = None): this.type =
    synchronized {
      import org.apache.spark.sql.functions.col
      import graft.operators.SimilaritySearch
      val st = ivfState.getOrElse(throw new IllegalStateException(
        "indexKnowledge has not run in this session"))
      val (fs, root) = ivfFs(st.path)
      val mDir = ivfManifestDir(root)
      // base = the version THIS SESSION pinned (not necessarily the
      // latest): after openIndexedKnowledge(version = N) the commit
      // below forks forward from N, which is how a bad batch is rolled
      // back out of the serving lineage
      val snapLines = pinnedManifest(fs, mDir, st.path, st.version) {
        graft.sources.Manifests.read(fs, mDir, st.version)
      }
      val latest = graft.sources.Manifests.latestVersion(fs, mDir).getOrElse(
        throw new IllegalStateException(s"no committed IVF manifest at ${st.path}"))
      val current = relationOfEntries(entriesOf(snapLines), fs, root)
      val one = graft.operators.Dedup.deterministicOnePerKey(
        docs, st.idCol, versionCol)
      // batch rows go through the SAME fixed quantizers as the build:
      // nearest existing centroid, and (ivfpq) the existing codebooks —
      // both retrain only on an indexKnowledge rebuild, like ivfflat
      val assigned = SimilaritySearch.assignClusters(one, st.vecCol, st.cents)
      val batch = st.pqCodebooks.fold(assigned)(
          SimilaritySearch.pqEncodeAll(assigned, st.vecCol, _))
        .select(current.columns.map(col): _*)
      val newIds = batch.select(col(st.idCol)).distinct()
      // clusters to rewrite: where the new rows land + where old
      // versions of these ids currently live
      val touched = (batch.select(col("cluster")) unionByName
          current.join(newIds, Seq(st.idCol), "left_semi").select(col("cluster")))
        .distinct().collect().map(_.getInt(0)).toSet
      val kept = current.filter(col("cluster").isin(touched.toSeq: _*))
        .join(newIds, Seq(st.idCol), "left_anti")
      // the touched clusters' survivors + the batch land as THIS
      // writer's new files (staged + renamed — nothing is deleted, so
      // the pinned version stays readable throughout)
      val newFiles = stageNewFiles(kept.unionByName(batch), fs, root)
      commitTouchedVersion(st, fs, root, latest, snapLines, touched, newFiles)
      this
    }

  /** Shared maintenance-commit tail: flip the manifest to
    * `latest + 1` — untouched clusters carried by reference, touched
    * clusters only from `newFiles` (a fully drained cluster simply
    * contributes nothing, with no directory delete to race), the BASE
    * pin's quantizer header carried (a fork committed after a rebuild
    * still belongs to its base's generation) — then reload,
    * re-register, and advance the session pin. */
  private def commitTouchedVersion(st: IvfState,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      latest: Long, snapLines: Seq[String], touched: Set[Int],
      newFiles: Seq[graft.sources.MergeTable.FileEntry]): Unit = {
    val mDir = ivfManifestDir(root)
    val snapEntries = entriesOf(snapLines)
    // OCC completeness: committing latest+1 from a base BEHIND latest
    // would silently drop the intervening version's rows from the
    // lineage (and the same-version collision check below would never
    // fire — latest+1 is free). Only a session that PINNED its version
    // deliberately may fork from a non-latest base; a latest-opened
    // session must reopen and re-run.
    if (!st.explicitPin && latest != st.version)
      throw new IllegalStateException(
        s"session pin v${st.version} is behind latest v$latest at ${st.path} " +
          "(a concurrent writer committed since this session opened) — " +
          "reopen with openIndexedKnowledge and re-run, or open a pinned " +
          "version explicitly to fork it")
    // legacy size-less entries carried into a new manifest are stat'ed
    // ONCE (MergeTable's shared migration-on-commit helper), so a
    // pre-size layout's first upsert/delete upgrades it to the
    // zero-listing open path
    val carried = graft.sources.MergeTable.withSizes(fs,
      snapEntries.filterNot(e => touched.contains(clusterOfFile(e.path))))
    // an all-files-gone commit would be unreadable at open (no parquet
    // paths to infer a schema from): refuse it rather than brick latest
    require(carried.nonEmpty || newFiles.nonEmpty,
      s"refusing to commit an EMPTY index version at ${st.path} — the " +
        "operation would remove every row; drop the layout and rebuild " +
        "with indexKnowledge instead")
    // the base pin's quantizer pointer, from the lines already in hand —
    // never a second manifest read
    val (baseCents, baseCb) = sideStateOf(snapLines, fs, root)
    try graft.sources.Manifests.commit(fs, mDir, latest + 1,
      quantizerHeader(baseCents, baseCb) +:
        (carried ++ newFiles).map(graft.sources.MergeTable.encodeEntry))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent writer committed v${latest + 1} at ${st.path} first; " +
            "this write's files are orphans (vacuum reclaims them) — " +
            "re-run against the new snapshot")
    }
    val (reloaded, committed, _) = readIndexSnapshot(st.path, Some(latest + 1))
    graft.plans.IvfIndex.register(
      spark, reloaded, "cluster", st.vecCol, st.cents, st.nprobe)
    kbDf = Some(reloaded)
    // the fork license is ONE-SHOT: after the fork commits, this
    // session's pin IS the latest — keeping explicitPin would exempt
    // every later commit from the stale-base check and silently fork
    // out other writers' subsequent versions
    ivfState = Some(st.copy(version = committed, explicitPin = false))
  }

  /** Row-level DELETE on the indexed KB — the reference's TTL sweep
    * (`vector_service.py`'s cleanup `DELETE WHERE expires_at < now`,
    * S6) at the SERVING-INDEX layer, completing the layout's CRUD:
    * only the clusters holding a matching row are rewritten (their
    * survivors staged as new files), the next manifest version flips
    * atomically for readers, and rows where `cond` is NULL are kept
    * (SQL DELETE semantics). Returns the number of rows removed.
    * A delete matching EVERY row is refused (the committed version
    * would hold no parquet files and be unreadable at open) — drop the
    * layout and rebuild instead.
    * Prefer this over [[cleanupExpired]] when the KB is indexed:
    * that path swaps the held frame for a checkpointed one the
    * planner rule cannot match, losing the pruned serving path. */
  def deleteIndexedKnowledge(cond: org.apache.spark.sql.Column): Long =
    synchronized {
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val st = ivfState.getOrElse(throw new IllegalStateException(
        "indexKnowledge has not run in this session"))
      val (fs, root) = ivfFs(st.path)
      val mDir = ivfManifestDir(root)
      val snapLines = pinnedManifest(fs, mDir, st.path, st.version) {
        graft.sources.Manifests.read(fs, mDir, st.version)
      }
      val latest = graft.sources.Manifests.latestVersion(fs, mDir).getOrElse(
        throw new IllegalStateException(s"no committed IVF manifest at ${st.path}"))
      val current = relationOfEntries(entriesOf(snapLines), fs, root)
      // one discovery pass: matched-row count per touched cluster
      val hits = current.filter(coalesce(cond, lit(false)))
        .groupBy(col("cluster")).count().collect()
      val touched = hits.map(_.getInt(0)).toSet
      val removed = hits.map(_.getLong(1)).sum
      if (touched.isEmpty) return 0L
      val survivors = current
        .filter(col("cluster").isin(touched.toSeq: _*))
        .filter(!coalesce(cond, lit(false)))
      val newFiles = stageNewFiles(survivors, fs, root)
      commitTouchedVersion(st, fs, root, latest, snapLines, touched, newFiles)
      removed
    }

  /** Remove documents from EVERY surface this session serves them
    * from — the purge path composed (the reference's row DELETE,
    * applied across the serving stack): the knowledge base (through
    * [[deleteIndexedKnowledge]]'s cluster-local rewrite when
    * [[indexKnowledge]] ran, else the held frame), the lexical index
    * ([[graft.operators.LexicalIndex.delete]] — postings, lengths AND
    * df statistics, so rankings stop counting the dead docs), the
    * dedup index ([[graft.operators.DedupIndex.delete]] — the dead
    * docs' signatures stop rejecting future lookalikes), and the
    * semantic index ([[graft.operators.SemanticIndex.delete]] — same
    * rationale, embedding-space). Ids absent
    * from a surface are no-ops there; indexes never built are
    * skipped. Returns the number of KB rows removed.
    *
    * This is the one-call compliance story: after it RETURNS, a doc
    * is gone from storage AND from every statistic or signature that
    * could reveal it once served it. The surfaces commit in sequence
    * (each index's own atomic publish; no cross-surface transaction
    * exists at this layer), ordered so a partial failure never
    * claims compliance it doesn't have: the derived surfaces (lexical
    * statistics, dedup signatures) purge FIRST and the KB — the
    * source of truth whose deletion is the compliance event — commits
    * LAST. If any step throws, the doc still exists in the KB and the
    * call must be retried; every step is idempotent, so the retry
    * converges. Bounded id list — the index delete contracts. */
  def retractDocuments(ids: Seq[Any], idCol: String = "id"): Long =
    synchronized {
      require(ids.nonEmpty, "ids must be non-empty")
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      val cond = col(idCol).isin(ids: _*)
      lexIndexPath.foreach(p =>
        graft.operators.LexicalIndex.delete(spark, p, ids))
      dedupIndexPath.foreach(p =>
        graft.operators.DedupIndex.delete(spark, p, ids))
      semIndexPath.foreach(p =>
        graft.operators.SemanticIndex.delete(spark, p, ids))
      if (ivfState.isDefined) deleteIndexedKnowledge(cond)
      else {
        val hit = knowledgeBase.filter(coalesce(cond, lit(false))).count()
        if (hit > 0)
          setKb(knowledgeBase.filter(!coalesce(cond, lit(false))))
        hit
      }
    }

  /** Reclaim data files referenced by neither the LATEST IVF manifest
    * nor the version this session has pinned (superseded versions,
    * losers of a commit race) — after which older versions are no
    * longer time-travelable, like Delta's VACUUM. `retainMillis` is
    * the concurrency grace (Delta's retention, miniature): a query
    * planned against an older version keeps reading its pinned files,
    * so only files BOTH unreferenced and older than the grace are
    * deleted — pass 0 only when no reader or writer can be in flight.
    * Returns the number of files removed. */
  def vacuumIndexedKnowledge(retainMillis: Long = 15L * 60L * 1000L): Int =
    synchronized {
      require(retainMillis >= 0, "retainMillis must be >= 0")
      val st = ivfState.getOrElse(throw new IllegalStateException(
        "indexKnowledge has not run in this session"))
      val (fs, root) = ivfFs(st.path)
      val mDir = ivfManifestDir(root)
      // latest through the swept-tip retry (a concurrent session's
      // commit+vacuum can reclaim the resolved tip mid-read); the
      // session pin through the guided reopen error
      val (v, latestLines) = graft.sources.Manifests.latestLines(fs, mDir)(
        throw new IllegalStateException(s"no committed IVF manifest at ${st.path}"))
      val pinLines =
        if (st.version == v) latestLines
        else pinnedManifest(fs, mDir, st.path, st.version) {
          graft.sources.Manifests.read(fs, mDir, st.version)
        }
      val live = (entriesOf(latestLines) ++ entriesOf(pinLines))
        .map(e => normalizePath(e.path)).toSet
      val cutoff = System.currentTimeMillis() - retainMillis
      val clusterDirs = fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("cluster="))
      // a checksumming FS pairs each part file with a `.{name}.crc`
      // sibling — judge liveness by the file the checksum covers, so a
      // live file keeps its crc and a reclaimed one drops it too
      def coveredName(n: String): String =
        if (n.startsWith(".") && n.endsWith(".crc")) n.substring(1, n.length - 4)
        else n
      var removed = 0
      clusterDirs.foreach { d =>
        fs.listStatus(d.getPath).filter(_.isFile)
          .filter(_.getModificationTime <= cutoff)
          .filterNot { s =>
            val p = s.getPath
            val covered = new org.apache.hadoop.fs.Path(
              p.getParent, coveredName(p.getName))
            live.contains(normalizePath(covered.toString))
          }
          .foreach { s =>
            fs.delete(s.getPath, false)
            if (!s.getPath.getName.startsWith(".")) removed += 1
          }
        if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
      }
      // staging dirs stranded by a writer that crashed between the
      // stage write and the renames; the grace keeps live stages safe
      val stagingRoot = new org.apache.hadoop.fs.Path(root, "_staging")
      if (fs.exists(stagingRoot))
        fs.listStatus(stagingRoot)
          .filter(_.getModificationTime <= cutoff)
          .foreach(s => fs.delete(s.getPath, true))
      // superseded GENERATIONS' quantizer side dirs: each retrain lands
      // its centroids/codebooks in a fresh `_ivf_centroids_g*` dir;
      // once no retained version (latest + the session pin, the same
      // liveness rule the data files use) pins a generation in its
      // header, its full centroid set + codebooks would otherwise
      // accumulate forever across retrains
      // quantizer pointers parsed from the lines already in hand (the
      // same liveness rule the data files use) — no extra manifest reads
      val liveSide: Set[String] = {
        val (c1, b1) = sideStateOf(latestLines, fs, root)
        val (c2, b2) = sideStateOf(pinLines, fs, root)
        Set(c1, c2, "_ivf_centroids", "_pq_codebooks") ++ b1 ++ b2
      }
      fs.listStatus(root)
        .filter(s => s.isDirectory && {
          val n = s.getPath.getName
          n.startsWith("_ivf_centroids") || n.startsWith("_pq_codebooks")
        })
        .filterNot(s => liveSide.contains(s.getPath.getName))
        .filter(_.getModificationTime <= cutoff)
        .foreach(s => fs.delete(s.getPath, true))
      // one listing sweeps the stranded commit temps AND the version-log
      // retention: expired manifests below the latest (keepFrom = v,
      // structurally protecting commits landing during this pass) and
      // outside the session pin are reclaimed — their data files just
      // were, under the same liveness rule, so they are unreadable
      // history either way; without this the log grows one v<N> per
      // commit forever and every snapshot resolution walks it
      graft.sources.Manifests.sweepLog(fs, mDir, cutoff,
        keep = Set(st.version), keepFrom = v)
      removed
    }

  /** Multi-source smart search with the embed+upsert side effect applied
    * to the held knowledge base. Synchronized: the read-merge-swap of the
    * held KB must be atomic or concurrent searches lose each other's
    * upserts (volatile alone only gives visibility). */
  def smartSearch(sources: Seq[SearchService.Source], query: String,
      context: Option[String] = None, maxResults: Int = 5): (DataFrame, DataFrame) =
    synchronized {
      val (results, merged) = SearchService.smartSearch(
        spark, sources, knowledgeBase, embedder, query, context, maxResults)
      setKb(merged)
      (results, knowledgeBase)
    }

  /** Safety-gated parameterized SQL (C1/C2). */
  def sql(query: String, params: Map[String, Any] = Map.empty,
      maxRows: Int = 1000): Either[SqlSafety.Violation, DataFrame] =
    SafeSql.run(spark, query, params, maxRows)

  /** Role-gated tool dispatch with audit (§2.11). */
  def runTool(name: String, args: Map[String, String] = Map.empty,
      role: Tools.Role = Tools.Role.General): Tools.ToolResult =
    tools.execute(spark, name, args, role)

  /** TTL sweep over the held knowledge base (S6). The expiry instant is
    * pinned once (not a re-evaluated current_timestamp), and the removed
    * count comes from a single aggregation pass, not two full counts. */
  def cleanupExpired(): Long = synchronized {
    import org.apache.spark.sql.functions._
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    // count(when) not sum(when): sum over zero rows is null → NPE on an
    // empty knowledge base
    val expired = knowledgeBase.agg(
      count(when(KnowledgeBase.expired(lit(now)), 1)).as("n")).head().getLong(0)
    setKb(KnowledgeBase.cleanupExpired(knowledgeBase, now = lit(now)))
    expired
  }
}
