package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions
import graft.functions.TextFunctions

/** Deduplication operator family.
  *
  * Reference semantics re-expressed Spark-first:
  *  - first-wins keyed dedup  — URL seen-set (`search_service.py:174-180`)
  *    and task-id seen-set (`app/state_manager.py:35-56`). Python insertion
  *    order has no distributed analog, so callers supply explicit order
  *    columns (SURVEY §7 hard-parts).
  *  - content-hash upsert     — `vector_service.py:104-125`
  *    (sha256(content) + on_conflict=content_hash).
  *  - near-dup sketches (MinHash-LSH / SimHash / n-gram Jaccard /
  *    embedding cosine) — the 100 TB LLM-pipeline extension.
  *
  * Scale notes: every method here is a single shuffle on the dedup key
  * (window or groupBy); candidate generation for near-dups is bounded by
  * LSH banding so the cross-product never materializes.
  */
object Dedup {

  /** Keep the first row per key under an explicit deterministic order. */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** One surviving row per key, DETERMINISTICALLY: highest
    * `versionCol` first when given, ties (and the no-version case)
    * broken by a content fingerprint over all columns — so a replayed
    * batch picks the same winner in ANY partition order, the
    * exactly-once-row-state requirement of at-least-once keyed sinks
    * ([[graft.streaming.IndexMaintenance]] and [[graft.GraftSession
    * .upsertIndexedKnowledge]] both reduce through here; a
    * partition-order-dependent winner would make a replay diverge).
    * `versionCol` is dropped from the output. */
  def deterministicOnePerKey(df: DataFrame, keyCol: String,
      versionCol: Option[String] = None,
      tieBreak: Seq[Column] = Nil): DataFrame =
    onePerKey(df, keyCol, versionCol, tieBreak, nullKeysKept = false)

  /** [[deterministicOnePerKey]] with every NULL-key row passed through
    * untouched (no identity to reduce under or to pair with) — the
    * batch reduction of every admission gate. One scan and one window:
    * NULL keys share the window's null partition, and the keep
    * predicate spares all of them. */
  def onePerKeyNullsKept(df: DataFrame, keyCol: String): DataFrame =
    onePerKey(df, keyCol, None, Nil, nullKeysKept = true)

  private def onePerKey(df: DataFrame, keyCol: String,
      versionCol: Option[String], tieBreak: Seq[Column],
      nullKeysKept: Boolean): DataFrame = {
    versionCol.foreach(vc => require(df.columns.contains(vc),
      s"versionCol $vc not in the frame"))
    val contentTie = xxhash64(to_json(struct(df.columns.map(col): _*))).asc
    // resolution order: version desc (when given), then caller
    // tie-breaks (e.g. the streaming path's live-beats-retraction
    // rule), then the content fingerprint — all deterministic, so a
    // replay picks the same winner
    val order = versionCol.map(vc => col(vc).desc).toSeq ++
      tieBreak :+ contentTie
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val first = col("__rn") === 1
    df.withColumn("__rn", row_number().over(w))
      .filter(if (nullKeysKept) first || col(keyCol).isNull else first)
      .drop("__rn" +: versionCol.toSeq: _*)
  }

  /** Null-key rows pass through untouched (task-id dedup semantics,
    * `app/state_manager.py:41-47`: unsaved tasks are always kept). */
  def firstWinsNullsKept(df: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    val withKey = df.filter(col(key).isNotNull)
    val nullKey = df.filter(col(key).isNull)
    firstWins(withKey, Seq(key), order).unionByName(nullKey)
  }

  /** Exact content dedup by hash of a text column (sha256, like the
    * reference's content_hash). One hash-shuffle; at 100 TB this is the
    * classic exact-dedup pass. Rows with NULL text pass through
    * untouched — they have no content to be duplicates OF, and grouping
    * them (null hash == null hash under partitionBy) would silently
    * collapse every content-less row into one. Output schema == input
    * schema (the working hash column does not leak). */
  def exactByContent(df: DataFrame, textCol: String, order: Seq[Column]): DataFrame = {
    // reserved working-column name, like incrementalNew: `content_hash`
    // would clobber (and then delete) a caller-supplied column of that
    // name — KB frames routinely carry one
    val hashed = df.withColumn("__cn_hash", sha2(col(textCol), 256))
    firstWins(hashed.filter(col(textCol).isNotNull), Seq("__cn_hash"), order)
      .unionByName(hashed.filter(col(textCol).isNull))
      .drop("__cn_hash")
  }

  /** Incremental ingestion dedup: keep only incoming docs whose content
    * does not already exist in the historical corpus — AND dedup the
    * batch against itself (two identical new docs must not both pass
    * the front door). Content identity is sha256 of the NFC-normalized
    * text (combining-character variants are the same document).
    * Output schema == incoming schema. Plan shape: the history side
    * reduces to a distinct-hash set; at 100 TB wrap the anti-join's big
    * side with [[BloomPrune]] or bucket both tables by content_hash so
    * the anti-join co-locates.
    *
    * @param order within-batch winner among same-content incoming rows */
  def incrementalNew(incoming: DataFrame, history: DataFrame, textCol: String,
      order: Seq[Column]): DataFrame = {
    // working column under a reserved name: `content_hash` would CLOBBER
    // a caller-supplied column of that name (KB frames routinely carry
    // one) and then vanish from the output, and the null-text branch
    // below would fail the union on the mismatched schema
    def hashed(df: DataFrame) = df.withColumn("__cn_hash",
      sha2(graft.functions.RegexpExpressions.nfcNormalize(col(textCol)), 256))
    // NULL-text incoming rows pass through untouched (the exactByContent
    // contract): they have no content to already exist in history, and
    // grouping them under the null hash would keep only one of them.
    // History-side null hashes need no filter — a null key never matches
    // the anti-join.
    firstWins(hashed(incoming.filter(col(textCol).isNotNull)),
        Seq("__cn_hash"), order)
      .join(hashed(history).select(col("__cn_hash")).distinct(),
        Seq("__cn_hash"), "left_anti")
      .drop("__cn_hash")
      .unionByName(incoming.filter(col(textCol).isNull))
  }

  /** Upsert: incoming rows replace existing rows with the same key
    * (Delta MERGE semantics on plain parquet — union + first-wins with
    * incoming ranked first, `vector_service.py:119-125`).
    *
    * @param tieBreak order among rows with the same key ON THE SAME side
    *        — required for determinism when one incoming batch can carry
    *        several rows per key (row_number over equal sort keys is
    *        partition-order-dependent otherwise) */
  def upsertByKey(existing: DataFrame, incoming: DataFrame, key: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val tagged = incoming.withColumn("__src", lit(0))
      .unionByName(existing.withColumn("__src", lit(1)))
    firstWins(tagged, Seq(key), col("__src") +: tieBreak).drop("__src")
  }

  /** MinHash-LSH near-duplicate candidate pairs, verified by exact
    * Jaccard over word shingles. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    *
    * numHashes = bands * rowsPerBand; banding bounds the shuffle: only
    * docs sharing a band bucket are joined.
    *
    * EAGER: LSH + verify scans the shingle frame three times (signature,
    * then both sides of the verify join), so this computes the shingles
    * once into a `localCheckpoint`, lets [[minHashNearDupsFromShingles]]
    * materialize the (small) verified pair frame, and frees the shingle
    * blocks before returning — the clean-room-measured win behind q38's
    * 3.88→1.4 s (see [[shingleFrame]]). The returned k-row frame's
    * blocks are released by Spark's ContextCleaner once the caller
    * drops it. Callers with SEVERAL shingle consumers (verify, keep-
    * best) compose [[shingleFrame]] + [[minHashNearDupsFromShingles]]
    * themselves to amortize the one checkpoint, as [[nearDupKeepBest]]
    * does. */
  def minHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingleFrame(df, idCol, textCol, shingleSize).localCheckpoint(true)
    try minHashNearDupsFromShingles(sh, numHashes, bands, threshold)
    finally freeCheckpoint(sh)
  }

  /** (id, shingles): distinct shingle HASHES straight from the word
    * split — no shingle strings materialized (tuple-hash identity ==
    * joined-string identity since words cannot contain the join
    * character). Compute it lazily ONLY when exactly one consumer scans
    * it once; ANY composition that scans it more than once (signature +
    * candidate self-join + verify — i.e. every [[minHashNearDupsFromShingles]]
    * call) should `localCheckpoint` it first, as [[nearDupKeepBest]] and
    * the q38 cluster composition do. Clean-room measurement (fresh
    * SparkContext, sf0.1): q38 with lazy recompute 3.88 s vs ~1.5 s
    * checkpointed; q80 1.39 s checkpointed vs 3.17 s recomputed. The
    * earlier "recompute is cheaper" note was an artifact of shared-
    * session caching and is wrong under isolation. */
  def shingleFrame(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    df.select(
      col(idCol).as("id"),
      HashExpressions.shingleHashes(TextFunctions.words(col(textCol)), shingleSize)
        .as("shingles"))

  /** [[minHashNearDups]] over a prepared [[shingleFrame]] — lets callers
    * amortize the text scan + shingling across several consumers.
    *
    * EAGER: the verified pair frame (small — near-dup pairs only) is
    * materialized on call and the internal band table's blocks are
    * freed before returning, matching the freeCheckpoint discipline of
    * every other operator in this file; `shingled` is scanned three
    * times DURING the call (signature + both verify sides), so pass it
    * `localCheckpoint`ed. */
  def minHashNearDupsFromShingles(
      shingled: DataFrame, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    // Band buckets over bare ids only — the shingle arrays must NOT ride
    // through the shuffle. The self-join below consumes this twice and
    // Spark does NOT reuse the subtree across join sides (verified: the
    // broadcast plan at small sizes recomputes it per side, and the
    // signature pass — numHashes minima per doc — is the CPU-heavy part
    // of LSH), so the small (id, band, bucket) table is materialized
    // once and freed when the verified pairs are.
    val banded = bandFrame(shingled, numHashes, bands).localCheckpoint(true)

    try {
      // Candidate pairs via band-bucket self-join. A bucket-aggregate
      // (collect_list per bucket) looks cheaper on paper, but with tens of
      // millions of mostly-singleton buckets Spark's ObjectHashAggregate
      // falls back to sort-based object aggregation (128-entry threshold)
      // and goes superlinear; the plain codegen'd join on compact rows
      // scales. Degenerate buckets cost k^2/2 pairs either way.
      val candidates = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()

      // Exact verification: re-attach shingles only for the candidate pairs.
      candidates
        .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
        .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .localCheckpoint(true) // materialize the (small) pair set
    } finally freeCheckpoint(banded)
  }

  /** (id, band, bucket) LSH band table over a [[shingleFrame]] — the
    * banding used by [[minHashNearDupsFromShingles]], factored out so
    * [[DedupIndex]] persists bit-identical buckets (an indexed lookup
    * and a fresh recompute must land in the SAME buckets or the index
    * silently loses recall). One row per (doc, band); bucket is the
    * seeded hash of the band's signature slice. */
  private[graft] def bandFrame(
      shingled: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    shingled
      .select(col("id"),
        HashExpressions.minhashSignatureLongs(col("shingles"), numHashes).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r)), b))).as(Seq("band", "bucket")))
  }

  /** SimHash near-dups: 64-bit fingerprints, candidates via 16-bit band
    * buckets (4 bands ⇒ by pigeonhole, any pair within hamming distance 3
    * shares at least one exact band), verified by bit_count(xor).
    * maxHamming is capped at 3 — beyond that the 4-band scheme cannot
    * guarantee recall and would silently miss pairs.
    *
    * Fingerprints use the md5-derived token hash ([[HashExpressions
    * .simhash64Md5]]) so the result is engine-portable: the DuckDB
    * oracle recomputes the identical bits from md5 hex nibbles and
    * brute-forces all pairs — the 4-band recall guarantee at
    * hamming <= 3 is EXACT, so banded Spark and brute-force oracle
    * return the same pair set. */
  def simHashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("id"),
        HashExpressions.simhash64Md5(TextFunctions.words(col(textCol))).as("fp")),
      maxHamming)

  /** Banded Hamming PAIR JOIN over 64-bit fingerprints — the band
    * machinery of [[simHashNearDups]], factored out so every 64-bit
    * perceptual key rides it (text SimHash here; image dHash via
    * [[graft.multimodal.Multimodal.imageNearDups]]). `fp` must carry
    * (id, fp); two ids pair when hamming(fp_a, fp_b) <= maxHamming.
    * Pigeonhole recall guarantee: at hamming <= 3, at least one of the
    * four 16-bit bands is equal — the banded join is EXACT, never a
    * candidate-losing approximation.
    *
    * Band-bucket SELF-JOIN, same shape as minHashNearDupsFromShingles.
    * The earlier bucket-aggregate (collect_list per bucket, nested
    * transform to pairs) built each bucket's whole k²/2 pair array
    * inside ONE aggregation row — a degenerate bucket (1M empty-text
    * docs share a fingerprint on a dirty crawl) OOMs the executor on
    * a single row. The join produces the same pairs but STREAMS them;
    * the (id, band, bucket, fp) table is materialized once because the
    * join consumes it twice (Spark does not reuse the subtree across
    * join sides). */
  private[graft] def bandedHammingPairs(
      fp: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4x16-bit banding recall guarantee (<=3)")
    val banded = hammingBands(fp).localCheckpoint(true)

    try banded.select(col("band"), col("bucket"),
        col("id").as("id_a"), col("fp").as("fp_a"))
      .join(banded.select(col("band"), col("bucket"),
          col("id").as("id_b"), col("fp").as("fp_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true) // materialize the (small) pair set
    finally freeCheckpoint(banded)
  }

  /** The 4×16-bit band decomposition of a 64-bit fingerprint frame —
    * (band, bucket, id, fp) per input row, band 0..3. Factored so the
    * batch operators ([[bandedHammingPairs]]) and the persisted index
    * ([[graft.operators.ImageDedupIndex]]) derive bit-identical
    * buckets: indexed probes and fresh recomputes MUST collide in the
    * same buckets or recall silently drops (the [[graft.operators
    * .DedupIndex]] bandFrame convention, 64-bit Hamming form). */
  private[graft] def hammingBands(fp: DataFrame): DataFrame =
    fp.select(
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bucket")),
      col("id"), col("fp"))

  /** Connectivity-preserving simhash near-dup EDGES — the dedup-graph
    * form of [[simHashNearDups]] that stays LINEAR when fingerprints
    * repeat. The full pair set of a k-doc identical class is k²/2 rows
    * (quadratic in the OUTPUT, on any engine — 100k identical docs
    * would be 5×10^9 pairs), but its connected components need only
    * k-1 edges. This variant:
    *
    *  1. collapses identical fingerprints to one representative
    *     (min id per fp, one hash shuffle) and emits the class as
    *     STAR edges (rep, member, hamming=0) — linear in class size;
    *  2. band-joins only the DISTINCT fingerprints, so a degenerate
    *     identical class contributes ONE row per band, not k rows —
    *     the adversarial bucket never forms.
    *
    * Components over these edges equal components over the full
    * [[simHashNearDups]] pair set (spec-gated): same-fp docs connect
    * through their star, cross-fp near-dups connect through their
    * representatives (hamming is a function of the fingerprints alone,
    * so rep-to-rep hamming == member-to-member hamming). Every emitted
    * edge is itself a genuine near-dup pair. Use this for
    * [[dupClusters]]/[[keepBestPerCluster]] at scale; use
    * [[simHashNearDups]] when the full pair enumeration is the point
    * (bounded corpora, oracle checks). */
  def simHashNearDupEdges(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming exceeds the 4x16-bit banding recall guarantee (<=3)")
    val fp = df.select(col(idCol).as("id"),
      HashExpressions.simhash64Md5(TextFunctions.words(col(textCol))).as("fp"))
      .localCheckpoint(true) // scanned twice: group pass + star join
    try {
      val groups = fp.groupBy(col("fp")).agg(min(col("id")).as("rep"))
        .localCheckpoint(true) // scanned twice: stars + rep banding
      try {
        val stars = fp.join(groups, Seq("fp"))
          .filter(col("id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("id").as("id_b"),
            lit(0).as("hamming"))
        val reps = groups.select(col("rep").as("id"), col("fp"))
        val banded = reps.select(
          posexplode(array((0 until 4).map(b =>
            shiftright(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("band", "bucket")),
          col("id"), col("fp"))
          .localCheckpoint(true) // consumed by both sides of the self-join
        try {
          val repPairs = banded.select(col("band"), col("bucket"),
              col("id").as("id_a"), col("fp").as("fp_a"))
            .join(banded.select(col("band"), col("bucket"),
                col("id").as("id_b"), col("fp").as("fp_b")),
              Seq("band", "bucket"))
            .filter(col("id_a") < col("id_b"))
            .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
            .filter(col("hamming") <= maxHamming)
            .select(col("id_a"), col("id_b"), col("hamming"))
            .dropDuplicates("id_a", "id_b")
          stars.unionByName(repPairs).localCheckpoint(true)
        } finally freeCheckpoint(banded)
      } finally freeCheckpoint(groups)
    } finally freeCheckpoint(fp)
  }

  /** Character-n-gram Jaccard for a given candidate pair set: joins the
    * pair ids back to their distinct n-gram sets and scores exactly.
    * Pair generation must come from minHashNearDups / simHashNearDups —
    * never a raw cross join at scale.
    *
    * @param pairs DataFrame with (id_a, id_b)
    */
  def ngramJaccard(
      df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3): DataFrame = {
    val grams = df.select(col(idCol).as("id"),
      array_distinct(TextFunctions.charNGrams(col(textCol), n)).as("grams"))
    pairs.select("id_a", "id_b")
      .join(grams.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b"))), 6).as("jaccard"))
  }

  /** Connected components over a near-duplicate pair graph: the stage
    * after LSH in a training-data dedup pipeline. Pairs only link
    * duplicates two at a time; transitive closure groups A~B, B~C into
    * one cluster so exactly one representative survives per group.
    *
    * Algorithm: iterative min-label propagation (the same fixpoint
    * GraphX's ConnectedComponents runs via Pregel) — every node starts
    * labeled with its own id; each round takes the min label over itself
    * and its neighbors; converges in O(component diameter) rounds.
    * Near-dup components are shallow (dozens of docs, diameter ≲ 5), so
    * rounds stay single-digit; each round is one shuffle of the edge
    * list, and `localCheckpoint` cuts lineage so plans don't nest.
    * For graphs with adversarially long chains, switch to star
    * contraction (Kiveris et al., "Connected Components in MapReduce");
    * not needed for dedup graphs.
    *
    * @param nodes one column `id` (every doc, so singletons keep a label)
    * @param pairs columns `id_a`, `id_b` (undirected; direction ignored)
    * @return (id, cluster) where cluster = min id in the component
    */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxIter: Int = 25,
      maxDriverEdges: Long = 1000000L,
      onRound: (Int, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    // ADAPTIVE: the edge list after LSH verification is a tiny fraction
    // of the corpus (duplicate PAIRS, not documents — typically <<1% of
    // rows even on dirty crawls), while `nodes` is corpus-sized. When
    // the edge list fits comfortably on the driver, collect it and run
    // union-find there — the same small-side principle as a broadcast
    // hash join, and it replaces O(diameter) shuffle rounds with ONE
    // broadcast probe over the node list. The distributed frontier loop
    // below remains the path for genuinely large edge lists (pass
    // maxDriverEdges = 0 to force it).
    val edges = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val nEdges = edges.count()
    if (nEdges <= maxDriverEdges) {
      try connectedComponentsDriver(nodes, edges)
      finally freeCheckpoint(edges)
    } else {
      // AQE's per-stage re-planning is a win for one-shot queries but pure
      // overhead inside an iterative fixpoint (every round pays the extra
      // materialization boundaries): measured 10M nodes / 8M edges, the
      // fixpoint runs 105 s with AQE vs 47 s without. Toggle it off for
      // the loop and restore after. (Session-wide conf: concurrent queries
      // on the same session during the loop also run non-adaptively.)
      val spark = nodes.sparkSession
      val aqeKey = "spark.sql.adaptive.enabled"
      val aqeBefore = spark.conf.get(aqeKey)
      spark.conf.set(aqeKey, "false")
      try connectedComponentsLoop(nodes, edges, maxIter, onRound)
      finally spark.conf.set(aqeKey, aqeBefore)
    }
  }

  /** Small-edge-list fast path: union-find on the driver over the
    * collected edges, then one broadcast left join onto the (distinct)
    * node list. `cluster` = min id per component, computed with Spark's
    * own `min` over the endpoint label table so the ordering semantics
    * match the distributed loop for every orderable id type. */
  private def connectedComponentsDriver(
      nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    // union-find with path halving + union by size
    val index = new java.util.HashMap[Any, Integer]()
    val idVals = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val compSize = scala.collection.mutable.ArrayBuffer.empty[Int]
    def intern(v: Any): Int = {
      val got = index.get(v)
      if (got != null) got.intValue()
      else {
        val i = idVals.length
        index.put(v, i); idVals += v; parent += i; compSize += 1; i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.collect().foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "pairs contain a null endpoint; nodes must cover every endpoint")
      val a = find(intern(r.get(0))); val b = find(intern(r.get(1)))
      if (a != b) {
        if (compSize(a) < compSize(b)) { parent(a) = b; compSize(b) += compSize(a) }
        else { parent(b) = a; compSize(a) += compSize(b) }
      }
    }
    val idType = nodes.schema("id").dataType
    val labelRows = new java.util.ArrayList[org.apache.spark.sql.Row](idVals.length)
    var i = 0
    while (i < idVals.length) {
      labelRows.add(org.apache.spark.sql.Row(idVals(i), idVals(find(i))))
      i += 1
    }
    val endpointLabels = spark.createDataFrame(labelRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("root", idType, nullable = false))))
    val labelMap = endpointLabels
      .join(endpointLabels.groupBy(col("root")).agg(min(col("id")).as("cluster")),
        "root")
      .select(col("id"), col("cluster"))
    val distinctNodes = nodes.select(col("id")).distinct()
    // Fail loudly if an edge references an id outside `nodes` — parity
    // with the distributed loop's orphan probe. One broadcast semi-join
    // scan of the node list.
    val covered = distinctNodes
      .join(broadcast(labelMap), Seq("id"), "left_semi").count()
    require(covered == idVals.length.toLong,
      "pairs reference ids not present in nodes; nodes must cover every endpoint")
    distinctNodes.join(broadcast(labelMap), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Release the storage blocks of a localCheckpoint'd frame that is no
    * longer referenced (each CC round supersedes the previous labels;
    * without this, O(rounds x nodes) cached copies accumulate). Shared
    * with the other iterative operators (k-means, binary near-dup) via
    * [[graft.util.Checkpoints.free]]. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    graft.util.Checkpoints.free(df)

  /** @param onRound observation hook, called after each completed round
    *        with (round index, frontier size after the round, seconds) —
    *        the loop's only progress signal on long graphs; scale demos
    *        and ops monitoring hang telemetry on it. Exceptions from the
    *        hook propagate (and free the loop's checkpoints like any
    *        other round failure). */
  private def connectedComponentsLoop(
      nodes: DataFrame, pairs: DataFrame, maxIter: Int,
      onRound: (Int, Long, Double) => Unit = (_, _, _) => ()): DataFrame = {
    // Symmetrize once and PRE-PARTITION on src: the edge table is the
    // big, loop-invariant side of every round's join, so shuffle it to
    // its join key once (localCheckpoint preserves the partitioning) and
    // only the shrinking frontier moves after that.
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
    freeCheckpoint(pairs) // caller's edge checkpoint — superseded by sym
    // FRONTIER-DELTA min-label propagation: only nodes whose label
    // improved last round send messages. A label can reach a node only
    // through a neighbor that holds it — and that neighbor either held
    // it initially (everyone is frontier in round 1) or acquired it in
    // a later round (and so was frontier right after). Per-round edge
    // work is O(edges touching the frontier) instead of O(E); for
    // near-dup graphs (tiny components, diameter 2-3) rounds after the
    // second process a near-empty frontier. Convergence is exact and
    // free: the loop ends when the frontier empties — no label-sum
    // probe, and any orderable id type works.
    // distinct(): a dirty corpus can repeat ids, and without collapsing
    // them here every round's left join would carry the duplicates
    // through to the output (the old per-round groupBy did this
    // implicitly). The distinct also hash-partitions the state on id —
    // exactly the partitioning every round's cand join wants.
    var state = nodes
      .select(col("id")).distinct()
      .select(col("id"), col("id").as("cluster"), lit(true).as("__changed"))
      .localCheckpoint(true)
    // Any throw below (orphan ids, non-convergence, a failed round) must
    // release the edge-table and current-state blocks, or the two
    // corpus-sized checkpoints stay pinned for the session — the exact
    // accumulation freeCheckpoint exists to prevent. On success only
    // `sym` is freed; `state` is the return value.
    try {
      // Fail loudly if an edge references an id outside `nodes`: such ids
      // would silently contribute no row to the label table and their
      // component could stop propagating early. One left-anti probe over
      // the edge list, once, before iterating.
      val orphan = sym.join(state, sym("src") === state("id"), "left_anti").limit(1)
      require(orphan.isEmpty,
        "pairs reference ids not present in nodes (e.g. " +
          orphan.collect().mkString(",") + "); nodes must cover every endpoint")
      var frontierSize = 1L // enter the loop; real count comes per round
      var i = 0
      while (frontierSize > 0 && i < maxIter) {
        val roundStartNs = System.nanoTime()
        val frontier = state.filter(col("__changed"))
          .select(col("id").as("src"), col("cluster"))
        val cand = sym.join(frontier, "src")
          .select(col("dst").as("id"), col("cluster").as("cand"))
          .groupBy(col("id")).agg(min(col("cand")).as("cand"))
        val next = state.select(col("id"), col("cluster"))
          .join(cand, Seq("id"), "left_outer")
          .select(col("id"),
            when(col("cand") < col("cluster"), col("cand"))
              .otherwise(col("cluster")).as("cluster"),
            coalesce(col("cand") < col("cluster"), lit(false)).as("__changed"))
          .localCheckpoint(true)
        // a throw between next's materialization and the state swap must
        // free next too — the outer catch only knows about `state`
        try frontierSize = next.filter(col("__changed")).count()
        catch { case t: Throwable => freeCheckpoint(next); throw t }
        freeCheckpoint(state) // superseded round — release its blocks
        state = next
        i += 1
        onRound(i, frontierSize, (System.nanoTime() - roundStartNs) / 1e9)
      }
      require(frontierSize == 0,
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter — not a near-dup-shaped graph)")
      state.select(col("id"), col("cluster"))
    } catch {
      case t: Throwable => freeCheckpoint(state); throw t
    } finally freeCheckpoint(sym)
  }

  /** One row per document with its dedup cluster and whether it is the
    * cluster representative (min id — the row a canonical corpus keeps). */
  def dupClusters(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    connectedComponents(df.select(col(idCol).as("id")), pairs)
      .select(col("id").as(idCol), col("cluster"),
        (col("id") === col("cluster")).as("is_rep"))

  /** Quality-aware near-dup dedup: assign every doc its transitive
    * dup cluster (via [[dupClusters]]) and keep ONE doc per cluster —
    * the one that sorts first under `preference` (e.g. highest quality
    * score, longest text), not blindly the min-id representative. This
    * is the curation-grade variant: when a cluster mixes a clean
    * original with truncated/boilerplate near-copies, the best one
    * survives.
    *
    * Cost on top of the pair generation: the cluster label propagation
    * plus one window over clusters — both shuffle on cluster id only. */
  def keepBestPerCluster(
      df: DataFrame, idCol: String, pairs: DataFrame,
      preference: Seq[Column]): DataFrame = {
    val labeled = df.join(
      dupClusters(df, idCol, pairs).select(col(idCol), col("cluster")),
      Seq(idCol))
    firstWins(labeled, Seq("cluster"), preference)
  }

  /** The full quality-aware near-dup pipeline in one call: MinHash-LSH
    * candidate pairs → exact Jaccard verify → transitive clusters →
    * keep the best doc per cluster. The shingle frame is computed ONCE
    * and `localCheckpoint`ed: the composition scans it five times
    * (signature/banding, twice in the candidate self-join, twice in the
    * verify joins), and unlike a single [[minHashNearDups]] call the
    * recompute here was measured MORE expensive than materializing
    * (q80: the shingle scan was paid ~3x per invocation). The
    * checkpoint is freed before returning — [[connectedComponents]]
    * materializes the pair list eagerly, so nothing downstream scans
    * the shingles again. */
  def nearDupKeepBest(
      df: DataFrame, idCol: String, textCol: String,
      preference: Seq[Column], shingleSize: Int = 3, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.8): DataFrame = {
    val sh = shingleFrame(df, idCol, textCol, shingleSize).localCheckpoint(true)
    try {
      val pairs = minHashNearDupsFromShingles(sh, numHashes, bands, threshold)
        .select(col("id_a"), col("id_b"))
      // eager: dupClusters checkpoints + consumes `pairs` on construction
      keepBestPerCluster(df, idCol, pairs, preference)
    } finally freeCheckpoint(sh)
  }

  /** SemDeDup-style semantic dedup (the public algorithm of Abbas et
    * al., "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): assign every vector
    * to its nearest coarse centroid, treat same-cluster pairs with
    * cosine >= `tau` as semantic duplicates, and keep each duplicate
    * ball's LEAST-prototypical member — the paper's keep-the-outlier
    * policy. Concretely, a row is dropped iff a better-ranked
    * same-cluster neighbor with cosine >= tau exists, where "better" =
    * lower round-6 `centroid_sim`, ties to lower id — one declarative
    * left-anti join, no iterative clustering. Returns the surviving
    * rows with `cluster` and `centroid_sim` appended (the audit
    * columns a curation pipeline logs).
    *
    * Scale: the centroids are the coarse quantizer (k rows, collected
    * and inlined as literals — same contract as [[SimilaritySearch
    * .assignClusters]]); the candidate step is quadratic ONLY within a
    * cluster, and k is the knob that bounds it (SemDeDup runs ~100k
    * clusters at web scale precisely so clusters stay small). The
    * self-join is an equi-join on `cluster` — one shuffle per side,
    * and Catalyst reuses the assignment subplan's exchange for both
    * sides rather than rescanning. Because an oversized cluster turns
    * the bound into the k² hazard, sizes above `maxClusterSize` fail
    * LOUDLY up front (same stance as DedupIndex's degenerate-bucket
    * guard, but dedup-correctness forbids silently skipping a
    * cluster) — re-train with more centroids instead. The size probe
    * is one (int-key count) aggregation job at call time.
    *
    * Zero-norm vectors have no direction: their cosine to anything is
    * null, so they are never dropped, never drop a neighbor, and
    * carry a null `centroid_sim`.
    *
    * Reference analog: the content-hash dedup gate of
    * `backend/services/vector_service.py:104-125`, lifted from exact
    * bytes to embedding semantics. */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      tau: Double, maxClusterSize: Int = 100000): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val assigned = SimilaritySearch.assignClustersWithSim(df, vecCol, cents)
    val oversized = assigned.groupBy("cluster").count()
      .filter(col("count") > maxClusterSize)
      .orderBy(desc("count")).limit(3).collect()
    require(oversized.isEmpty,
      s"semanticDedup: cluster(s) above maxClusterSize=$maxClusterSize — " +
        oversized.map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(", ") +
        " — train a finer coarse quantizer (more centroids) instead of " +
        "letting the per-cluster quadratic degenerate")
    val b = assigned.select(col("cluster").as("__b_cluster"),
      col(idCol).as("__b_id"), col(vecCol).as("__b_vec"),
      col("centroid_sim").as("__b_csim"))
    val beats = (col("__b_csim") < col("centroid_sim")) ||
      (col("__b_csim") === col("centroid_sim") && col("__b_id") < col(idCol))
    val near = graft.functions.VectorFunctions
      .cosineSimilarity(col(vecCol), col("__b_vec")) >= tau
    assigned.join(b,
      col("cluster") === col("__b_cluster") && beats && near, "left_anti")
  }

  /** Embedding near-dups within coarse clusters: candidates are pairs
    * sharing `clusterCol` (IVF-style pruning), verified by cosine. */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String, clusterCol: String,
      minCosine: Double): DataFrame = {
    val a = df.select(col(clusterCol).as("c"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(clusterCol).as("c"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("c"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }
}
