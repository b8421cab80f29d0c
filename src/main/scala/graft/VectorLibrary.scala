package graft

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftFunctions._
import graft.operators.{IvfIndex, IvfPq, PqIndex, TextAnalysis, VectorSearch}

/**
 * Library-level facade: the reference service's API surface
 * (create library / add documents / auto-chunk / embed / index /
 * search / stats / delete — routers/library_router.py,
 * services/library_service.py + vector_service.py) re-expressed as
 * dataset transforms over a parquet-backed store.
 *
 * Differences by design (SURVEY.md paragraph 3): persistence is parquet (not
 * PostgreSQL), embeddings come from the deterministic seeded embedder
 * (not Cohere), and "index build" materializes index columns
 * (LSH buckets, int8 codes) next to the data so a 1000-executor scan
 * can prune columns/partitions instead of consulting driver-side state.
 */
class VectorLibrary(spark: SparkSession, root: String, val name: String,
                    dim: Int = 64, seed: Long = 42L,
                    embedder: Embedder = null) {
  SparkEntry.configure(spark)

  /** The embedding provider (reference embedding_service seam):
    * deterministic seeded stand-in unless the caller plugs one in. */
  private val embed: Embedder =
    Option(embedder).getOrElse(new DeterministicEmbedder(dim, seed))
  require(embed.dim == dim,
    s"embedder dimension ${embed.dim} does not match library dimension $dim")

  private val path = s"$root/$name/chunks"
  private val indexPath = s"$root/$name/lsh_index"
  private val numTables = 8
  private val bitsPerTable = 8

  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Cross-process single-writer enforcement: every mutating entry
  // point runs under a lease-based `_writer.lock` (see [[WriterLock]];
  // reference parity: storage.py's per-process RLock +
  // background_tasks.py's per-library rebuild serialization). A second
  // live writer gets a loud ConcurrentWriterException instead of
  // silently interleaved manifest generations. Reentrant, so composed
  // mutations (updateDocument = delete + add) take one lease.
  private lazy val leaseMsConf: Long =
    spark.conf.getOption("spark.graft.writerLockLeaseMs")
      .map(_.toLong).getOrElse(300000L)
  private lazy val writerLock = new WriterLock(
    hadoopFs(root), s"$root/$name", leaseMsConf)

  // --- per-tree leases (the PLANS.md multi-writer relaxation, r11) ----
  // Through r10 ONE library-wide lease serialized every mutation (the
  // Delta-v1 position). Now each tree carries its own lease file
  // (`<treeRoot>/_writer.lock`), a mutation acquires exactly its WRITE
  // footprint in canonical order (store < grid < ivf < ivfpq < lsh <
  // pq — deadlock-free by global ordering), and the all-tree
  // transactions (ingest, delete, restore, repair, rebuild, vacuum)
  // take the library lease PLUS all six — equivalent to the old global
  // lock, and still loud against a pre-r11 peer that only knows the
  // library lease. Disjoint single-tree maintenance (compact `pq`
  // while another instance builds `grid`) now commits concurrently;
  // intersecting footprints fail loudly at acquire with
  // [[WriterLock.ConcurrentWriterException]].
  //
  // Skew under disjointness, DETECTED AND HEALED AT COMMIT (r12): an
  // index BUILD holds only its own tree's lease (the store is read
  // lock-free from a committed manifest snapshot), so an ingest can
  // land mid-build — through a reentrant frame, a stale store cache
  // over another instance's completed ingest, or a lease-expiry edge.
  // Each build method captures the store generation its PLANNING
  // reflects (before the row-source frames resolve — r13: capturing
  // at install entry raced a same-instance ingest's invalidation into
  // skipping the heal) and installRebuild, after the manifest commit,
  // fresh-compares the store
  // head: an advance triggers [[healRebuildSkew]], which appends the
  // missed rows under the frozen just-committed geometry before the
  // build's lease releases — the committed index tracks the store at
  // the next epoch with no manual [[repairIndexes]] call.
  private val TreeOrder = Seq("store", "grid", "ivf", "ivfpq", "lsh", "pq")
  // Lease files live under `_locks/<tree>/`, NOT inside the tree
  // roots: WriterLock's acquire mkdirs its root, and a bare-existence
  // probe like appendBatch's indexDirExists would read a lock-created
  // lsh_index/ as "the user built an index here".
  private lazy val treeLocks: Map[String, WriterLock] =
    epochTrees.map { case (n, _) =>
      n -> new WriterLock(hadoopFs(root), s"$root/$name/_locks/$n", leaseMsConf)
    }.toMap

  // One-time commit-semantics probe of the library's filesystem (see
  // [[FsCapabilities]]): every mutation passes through withLeases, so
  // a filesystem that cannot honor atomic create-if-absent /
  // non-clobbering rename fails loudly BEFORE the first lease is
  // taken — not after a silently interleaved commit. Lazy val: once
  // per library instance; the probe itself runs once per filesystem
  // per JVM. Read-only sessions never reach it.
  private lazy val fsContractVerified: Unit =
    FsCapabilities.verify(hadoopFs(root), s"$root/$name",
      // tolerant parse: "1"/"yes" mis-sets must not turn the override
      // into an IllegalArgumentException inside lazy-val init
      spark.conf.getOption("spark.graft.unsafeFs").exists(v =>
        v.equalsIgnoreCase("true") || v == "1" || v.equalsIgnoreCase("yes")))

  /** Acquire the leases of `names` in canonical order, then run body. */
  private def withLeases[T](names: Seq[String])(body: => T): T = {
    fsContractVerified
    val unknown = names.toSet -- TreeOrder.toSet
    require(unknown.isEmpty, s"unknown lease footprint trees: $unknown")
    def loop(rem: Seq[String]): T = rem match {
      case Seq() => body
      case h +: t => treeLocks(h).withLock(loop(t))
    }
    loop(TreeOrder.filter(names.contains))
  }

  // Consistency epochs ride the mutation frame: after the OUTERMOST
  // frame finishes (every tree it touched has committed) and while its
  // leases are still held, the per-tree generation tuple is recorded —
  // see [[recordEpoch]]. A reader resolving an epoch therefore never
  // observes the store/index commit skew window. Frames from
  // concurrent disjoint footprints share the depth counter: the LAST
  // frame out records (covering every commit of the overlap), and
  // recordEpoch validates its assembly optimistically when recorded
  // without the full lease set.
  private val frameLock = new Object
  private var mutationDepth = 0
  // true once some thread's OUTERMOST frame completed successfully in
  // the current overlap; consumed by the frame that brings the shared
  // depth back to 0
  private var epochPending = false
  // this thread's own nesting depth: only a thread's outermost frame
  // may mark the epoch pending — a nested inner frame's success (e.g.
  // buildIvfIndex inside a failing appendBatch) is PART of its outer
  // mutation, and recording it would publish exactly the
  // half-committed cross-tree state epochs exist to hide
  private val threadFrameDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private def enterFrame[T](body: => T): T = {
    frameLock.synchronized { mutationDepth += 1 }
    threadFrameDepth.set(threadFrameDepth.get + 1)
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      val outermostOfThread = threadFrameDepth.get == 1
      threadFrameDepth.set(threadFrameDepth.get - 1)
      frameLock.synchronized {
        // Record on the 1 -> 0 TRANSITION of the SHARED depth, inside
        // the same synchronized block as the decrement: a
        // check-then-separately-decrement let two concurrent disjoint
        // frames BOTH observe depth 2 and both skip — neither commit
        // got an epoch. The last frame out records iff some thread's
        // outermost frame succeeded; an all-failed overlap records
        // nothing (crash semantics: the previous epoch stays latest).
        mutationDepth -= 1
        if (ok && outermostOfThread) epochPending = true
        if (mutationDepth == 0 && epochPending) {
          epochPending = false
          if (ok) recordEpoch()
          else
            // recording a SIBLING's success from a failed frame's
            // exit: an epoch-record failure here must not mask the
            // body's exception already propagating
            try recordEpoch()
            catch { case t: Throwable =>
              System.err.println(s"[graft] epoch record after a failed " +
                s"sibling frame threw: ${t.getMessage}") }
        }
      }
    }
  }

  /** The all-tree mutation frame: library lease + every tree lease. */
  private def withWriterLock[T](body: => T): T = writerLock.withLock {
    withLeases(TreeOrder)(enterFrame(body))
  }

  /** Footprint-scoped mutation frame: only the named trees' leases —
    * single-tree maintenance (build/drop/compact/refit of ONE index)
    * runs concurrently with disjoint maintenance from other writer
    * instances; intersecting footprints fail loudly at acquire. */
  private def withTreeLocks[T](footprint: Seq[String])(body: => T): T =
    withLeases(footprint)(enterFrame(body))

  /** True when `p` exists AND holds at least one visible (non-hidden,
    * non-marker) entry. A directory can exist yet be dataless — e.g.
    * after a copy-on-write delete removed every partition — and such a
    * directory must never reach schema inference.
    *
    * Memoized ONE-DIRECTIONALLY: only `true` is cached (dropped with
    * the other serving caches — [[dropResolveCaches]]). A `false` is
    * never cached, so an empty→nonempty transition inside a single
    * mutation (first ingest writes the store, then reads [[chunks]]
    * before the end-of-mutation invalidate) can never be masked; the
    * penalty is that only EMPTY trees keep paying the listing, and a
    * library is empty only until its first commit. true→false happens
    * only via drops/COW-delete-everything, which clear the cache. */
  private def hasVisibleData(p: String): Boolean =
    visibleCache.contains(p) || {
      val fs = hadoopFs(p)
      val hp = new org.apache.hadoop.fs.Path(p)
      resolveListCount += 1
      val vis = fs.exists(hp) && fs.listStatus(hp).exists { st =>
        val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
      }
      if (vis) visibleCache.put(p, ())
      vis
    }

  // --- persisted library metadata ------------------------------------
  // The reference keeps LibraryMetadata (description/created_at/
  // updated_at/extra) and preferred_index_algorithm on the Library row
  // (schemas/library_schema.py, PUT /libraries/{id}); here they live
  // in a _library.json next to the store so a NEW session (or another
  // cluster) reopens the library with the same algorithm and metadata.
  private val metaPath = s"$root/$name/_library.json"

  private def readMeta(): Map[String, String] = {
    val fs = hadoopFs(metaPath)
    val p = new org.apache.hadoop.fs.Path(metaPath)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      // flat string-to-string JSON object (written by writeMeta below)
      "\"([^\"]+)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(raw)
        .map(m => m.group(1) -> m.group(2).replace("\\\"", "\"").replace("\\\\", "\\"))
        .toMap
    }
  }

  private def writeMeta(m: Map[String, String]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val json = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    val fs = hadoopFs(metaPath)
    val out = fs.create(new org.apache.hadoop.fs.Path(metaPath), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  // _library.json is a read-modify-write shared by every mutation;
  // under the library lease that is serialized for free, but two
  // footprint-scoped writers (disjoint index builds from different
  // instances) would clobber each other's keys — their meta writes
  // serialize under this tiny dedicated lease instead. Lazy + only on
  // the footprint path, so the all-tree hot path (every streaming
  // micro-batch exits through touchMeta) pays nothing.
  private lazy val metaLock = new WriterLock(
    hadoopFs(root), s"$root/$name/_locks/meta", leaseMsConf)

  private def touchMeta(updates: (String, String)*): Unit = {
    def write(): Unit = {
      val now = java.time.Instant.now().toString
      val base = readMeta()
      writeMeta(base
        ++ Map("name" -> name,
          "created_at" -> base.getOrElse("created_at", now),
          "updated_at" -> now)
        ++ updates)
    }
    if (writerLock.held) write()
    else {
      // WriterLock THROWS on a live holder (mutations must be loud) —
      // but a meta write is milliseconds, and two disjoint builds
      // finishing together should not fail one of them over a
      // timestamp update. Briefly retry the tiny lease before
      // surfacing the conflict.
      var attempt = 0
      var done = false
      while (!done) {
        try { metaLock.withLock(write()); done = true }
        catch {
          case _: WriterLock.ConcurrentWriterException if attempt < 50 =>
            attempt += 1
            Thread.sleep(20L + scala.util.Random.nextInt(30))
        }
      }
    }
  }

  /** Library metadata as last persisted (reference GET /libraries/{id}). */
  def metadata: Map[String, String] = readMeta()

  /** Update description/extra metadata (reference PUT /libraries/{id}). */
  def updateMetadata(updates: (String, String)*): Unit = {
    require(!updates.exists(u => Set("name", "created_at")(u._1)),
      "name and created_at are immutable")
    // algorithm must go through setAlgorithm: a raw metadata write
    // would bypass its validation and persist a value the search
    // dispatch cannot route, breaking every future session.
    require(!updates.exists(_._1 == "algorithm"),
      "set the index algorithm via setAlgorithm, not updateMetadata")
    touchMeta(updates: _*)
  }

  /** Per-library index algorithm, switchable live AND persisted
    * (reference `preferred_index_algorithm`, services/vector_service
    * .py:314 set_library_algorithm / library_service.py:146) — a new
    * session reopening this store routes search the same way. */
  private var algo: String = readMeta().getOrElse("algorithm", "flat")
  def algorithm: String = algo
  def setAlgorithm(a: String): Unit = {
    require(VectorLibrary.algorithms(a),
      s"unknown index algorithm '$a' (expected one of ${VectorLibrary.algorithms.mkString(", ")})")
    algo = a
    touchMeta("algorithm" -> a)
  }

  // IVF is the one index with driver-side state (centroids); built
  // lazily once per library generation and dropped on any mutation.
  private var ivfState: Option[(KMeansModel, DataFrame)] = None
  // Emptiness is re-checked at most once per store generation: the
  // grid/ivf dispatch guard would otherwise run a full isEmpty job on
  // every search call even for a populated library. "Empty" means no
  // SEARCHABLE rows: a store holding only pending (null-embedding)
  // chunks has nothing to fit a k-means/grid to and nothing a search
  // could return — the empty-library contract applies to it verbatim
  // (the fits would otherwise crash on a zero-row frame AFTER passing
  // a chunks-based guard).
  private var emptyCache: Option[Boolean] = None
  private def storeIsEmpty: Boolean = emptyCache.getOrElse {
    val e = searchable.isEmpty; emptyCache = Some(e); e
  }
  // Grid serving state, cached per store generation: the fitted bounds
  // (tiny parquet) and the per-cell occupancy histogram — re-reading
  // them per query would put two driver round-trips on the hot path.
  private var gridMetaCache: Option[(Array[Double], Array[Double], Int, Int)] = None
  private var gridCountsCache: Option[Seq[(String, Long)]] = None
  // PQ serving state per store generation: stored codebooks (tiny
  // parquet) and, for libraries without a persisted index, the lazy
  // in-memory fit + encoded corpus (the PQ analog of ivfState).
  private var pqBooksCache: Option[PqIndex.Codebooks] = None
  private var pqState: Option[(PqIndex.Codebooks, DataFrame)] = None
  // IVF-PQ serving state per store generation: stored centroids +
  // codebooks (tiny parquets) and the lazy in-memory fit for
  // libraries without the persisted index.
  private var ivfpqSideCache: Option[(Seq[(Int, Array[Double])], PqIndex.Codebooks)] = None
  private var ivfpqState: Option[IvfPq.Index] = None
  // Dev/test probe: the resolution scan scope of the most recent
  // deleteVictims, per tree — the partition directories the victim-
  // file resolution actually opened (or the tree root when a
  // coverage shortfall forced the full-tree fallback). Lets specs
  // assert that targeted deletes stay pruned without instrumenting
  // the filesystem.
  @volatile private[graft] var lastDeleteAudit: Map[String, Seq[String]] = Map.empty

  // --- serving-resolution memo ---------------------------------------
  // Every filesystem fact a SEARCH resolves per call — the sidecar
  // generation listing under each geometry base, the loaded geometry
  // itself (keyed by the RESOLVED sidecar suffix, so an epoch-pinned
  // searchAt and a head search that land on the same sidecar share
  // one load), and tree non-emptiness — cached between mutations. On
  // an object store each uncached search otherwise pays 1-2 LISTs +
  // 1-2 GETs of pure latency (r11 verdict "What's wrong #3"). Dropped
  // together by [[dropResolveCaches]] from every path that changes
  // what resolution would answer: invalidateIndexes (all ingest/
  // delete/restore/repair), sweepOrphanGeom + vacuumGeometry (sidecar
  // deletes), installRebuild (new sidecar generation), and the index
  // drops. Cross-instance staleness matches the long-standing serving
  // caches (gridMetaCache etc.): another writer's commit is seen at
  // this instance's next own mutation, the documented multi-writer
  // read contract.
  // TrieMaps, not mutable.HashMap: a reader thread may be serving
  // search() while a writer thread's mutation clears these (the
  // streaming foreachBatch + concurrent-reader shape) — concurrent
  // clear+getOrElseUpdate on a plain HashMap can corrupt bucket state.
  // TrieMap makes every race benign (worst case: one duplicated load).
  private val geomGensCache = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
  private val geomLoadCache = scala.collection.concurrent.TrieMap.empty[String, AnyRef]
  private val visibleCache = scala.collection.concurrent.TrieMap.empty[String, Unit]
  /** Test probe: filesystem LISTs issued by serving resolution (cache
    * misses in [[geomGens]]/[[hasVisibleData]]). A repeated search
    * must not advance it. Plain var: the specs that read it are
    * single-threaded; a torn count under races costs nothing. */
  private[graft] var resolveListCount: Long = 0L
  private def dropResolveCaches(): Unit = {
    geomGensCache.clear(); geomLoadCache.clear(); visibleCache.clear()
    epochInfoCache.clear()
    // tree-level memos (generation listings, head + pinned frames)
    // drop for ALL trees, not just the mutation's footprint: a
    // footprint-scoped maintenance loop (only ever rebuilding pq)
    // must still adopt another instance's commits to the OTHER trees
    // at its next own mutation — the documented multi-writer read
    // contract ("stale until this instance next mutates").
    epochTrees.foreach(_._2.invalidate())
  }
  /** Test probe: TOTAL filesystem LISTs serving resolution has issued
    * for this library — sidecar-generation listings, tree-emptiness
    * probes, and each tree's manifest-generation listings. A repeated
    * search()/searchAt() must leave it unchanged. */
  private[graft] def servingListCount: Long =
    resolveListCount + epochTrees.map(_._2.genListCount).sum

  private[graft] def invalidateIndexes(): Unit = {
    dropResolveCaches()
    ivfState.foreach(_._2.unpersist())
    ivfState = None
    emptyCache = None
    gridMetaCache = None
    gridCountsCache = None
    pqBooksCache = None
    pqState.foreach(_._2.unpersist())
    pqState = None
    ivfpqSideCache = None
    ivfpqState.foreach(_.encoded.unpersist())
    ivfpqState = None
    storeTree.invalidate()
    lshTree.invalidate()
    gridTree.invalidate()
    ivfTree.invalidate()
    pqTree.invalidate()
    ivfpqTree.invalidate()
  }
  private def ivfIndex: (KMeansModel, DataFrame) = ivfState.getOrElse {
    val (model, assigned) = IvfIndex.build(searchable, "embedding")
    val cached = assigned.persist()
    ivfState = Some((model, cached))
    (model, cached)
  }
  private def pqInMemory: (PqIndex.Codebooks, DataFrame) = pqState.getOrElse {
    val base = pqBase(searchable)
    val books = PqIndex.train(base, "__nvec")
    val enc = PqIndex.encodeExact(base, "__nvec", books).drop("__nvec").persist()
    pqState = Some((books, enc))
    (books, enc)
  }
  private def ivfpqInMemory: IvfPq.Index = ivfpqState.getOrElse {
    val idx0 = IvfPq.train(pqBase(searchable), "__nvec")
    val idx = idx0.copy(encoded = idx0.encoded.drop("__nvec").persist())
    ivfpqState = Some(idx)
    idx
  }

  /** The reference clamps k to [1, 100] (schemas/search_schema.py:26). */
  private def clampK(k: Int): Int = math.min(math.max(k, 1), 100)

  /**
   * Ingest documents (doc_id, text, source): chunk into fixed word
   * windows, embed each chunk, precompute the index columns (LSH
   * buckets + int8 codes), append to the library store. The write is
   * partitioned by source so per-source queries prune files.
   */
  def addDocuments(docs: DataFrame, chunkWindow: Int = 32): Unit =
    appendBatch(indexColumns(TextAnalysis.chunksUnordered(docs, chunkWindow)))

  /** Append an embedded+indexed batch to the store and, for each
    * on-disk index present, its derived rows to that index — ingest
    * stays incremental, indexes never rebuild on append. */
  private def appendBatch(batch0: DataFrame): Unit = withWriterLock {
    val batch = bySource(batch0)
    val indexDirExists = hadoopFs(indexPath)
      .exists(new org.apache.hadoop.fs.Path(indexPath))
    if (indexDirExists || hasIvfIndex || hasGridIndex || hasPqIndex || hasIvfPqIndex) {
      // Multi-sink write: cache the embedded batch so the expensive
      // embed + signature pass runs once, not once per sink.
      val b = batch.persist()
      storeTree.appendCommitted(b, 0L)
      if (indexDirExists) {
        // Schema migration = rebuild, never a mixed-generation append:
        // an index written before `quant` rode along would read the
        // new files' codes as null for old rows and silently drop them
        // from a quantized phase 1. Rebuilding from the (already
        // appended) store upgrades every row at once. A dataless index
        // directory (everything deleted copy-on-write) rebuilds too —
        // its schema is unreadable.
        if (!hasPartitionedIndex || !partitionedIndex.columns.contains("quant")
            || !partitionedIndex.columns.contains("source"))
          buildPartitionedIndex()
        else lshTree.appendCommitted(indexRows(b), indexMaxRecordsPerFile)
      }
      if (hasIvfIndex) appendOrRebuildIvf(b)
      if (hasGridIndex) appendGridRows(b)
      if (hasPqIndex) appendPqRows(b)
      if (hasIvfPqIndex) appendIvfPqRows(b)
      b.unpersist()
    } else {
      // persist: the manifest commit's touched-dir resolution and the
      // write would otherwise each run the embed pass
      val b = batch.persist()
      storeTree.appendCommitted(b, 0L)
      b.unpersist()
    }
    invalidateIndexes()
    touchMeta()
  }

  /**
   * Ingest PRE-CHUNKED content (reference POST /documents
   * create_document_from_chunks, document_router.py:33: the caller
   * supplies the chunks; the service embeds and indexes them). Rows:
   * (doc_id, chunk_idx, chunk_text, source) — token counts, embedding
   * and index columns are derived exactly as for auto-chunked ingest,
   * so both paths produce interchangeable store rows.
   *
   * `deferEmbedding = true` stores the chunks PENDING — typed-null
   * embedding/index columns, visible via [[unindexed]] — the
   * reference's unindexed-chunk state (chunks created while the
   * embedding service is down or rate-limited; the background batch
   * re-index, background_tasks.py:260, embeds them later =
   * [[rebuildIndex]] here). Pending rows join no index until then, so
   * only the store tree appends.
   */
  def addChunkedDocuments(chunked: DataFrame,
                          deferEmbedding: Boolean = false): Unit = {
    val required = Set("doc_id", "chunk_idx", "chunk_text", "source")
    val missing = required -- chunked.columns.toSet
    require(missing.isEmpty, s"addChunkedDocuments: missing columns $missing")
    val base = chunked
      .select(col("doc_id"), col("source"), col("chunk_idx").cast("int").as("chunk_idx"),
        col("chunk_text"),
        textStats(col("chunk_text")).getField("n_tokens").as("n_tokens"))
    if (!deferEmbedding) appendBatch(indexColumns(base))
    else withWriterLock {
      storeTree.appendCommitted(bySource(pendingRows(base)), 0L)
      invalidateIndexes()
      touchMeta()
    }
  }

  /** Store rows clustered for a commit — every store write goes
    * through here. Rows of one source meet in one write task (Spark's
    * rebalance hint: AQE coalesces small partitions and splits a large
    * source into files of advisory size), so a commit adds one file per
    * touched source at serving scale instead of one per (task x
    * source). Within a file rows sort by (source, doc_id): parquet
    * keeps per-row-group min/max stats, so a doc_id predicate
    * (documentChunks, targeted deletes) skips whole row groups. */
  private def bySource(rows: DataFrame): DataFrame =
    rows.hint("rebalance", col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))

  /** A chunk batch as PENDING store rows: identical store schema, with
    * every embedding-derived column a TYPED null (types taken from the
    * store's own schema so the ingest paths can never drift). Shared
    * by the deferred batch ingest and the streaming embedder-outage
    * fallback. */
  private def pendingRows(base: DataFrame): DataFrame = {
    val schema = chunks.schema
    base.select(chunks.columns.map {
      case c @ ("embedding" | "lsh_buckets" | "quant" | "bits") =>
        lit(null).cast(schema(c).dataType).as(c)
      case "chunk_id" =>
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")).as("chunk_id")
      case c => col(c)
    }.toSeq: _*)
  }

  /** Embedding + index columns for a chunk batch (shared by the batch
    * and streaming ingest paths). Embedding goes through the seam's
    * BULK hook: expression-backed embedders project a column (plan
    * unchanged, codegen intact); service-backed ones batch per
    * partition (reference generate_embeddings_batch). */
  private def indexColumns(chunked: DataFrame): DataFrame =
    derivedIndexColumns(
      embed.embedFrame(chunked, "chunk_text", "search_document", "embedding"))

  /** The non-embed index columns over an already-embedded batch —
    * graft's own deterministic expressions, split out so the
    * streaming outage fallback can classify embed-step failures
    * separately ([[embedOrPending]]). */
  private def derivedIndexColumns(embedded: DataFrame): DataFrame =
    embedded
      .withColumn("lsh_buckets", lshBuckets(col("embedding"), numTables, bitsPerTable, seed))
      .withColumn("quant", quantizeVec(l2Normalize(col("embedding"))))
      .withColumn("bits", bitPack(col("embedding")))
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))

  /** All chunks of this library. A library that has never ingested
    * returns an EMPTY frame with the full store schema (reference:
    * searching/listing an empty library yields [] — vector_service
    * returns no results, not an error), so every read path works
    * before the first write. */
  def chunks: DataFrame = {
    // The directory can exist yet hold no data files (every source
    // partition deleted copy-on-write): that must read as empty too,
    // not fail schema inference. One listStatus — same FS round-trip
    // cost as the plain exists check it replaces.
    if (hasVisibleData(path))
      storeTree.open()
    else {
      import org.apache.spark.sql.types._
      val base = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("chunk_idx", IntegerType), StructField("chunk_text", StringType),
        StructField("n_tokens", IntegerType)))
      indexColumns(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], base))
    }
  }

  /** The store restricted to SEARCHABLE rows: chunks whose embedding
    * is PENDING (deferred-embedding ingest — the reference's
    * unindexed-chunk state) are invisible to every search scan and
    * index fit until [[rebuildIndex]] embeds them. Without this the
    * flat/quantized/binary store scans admit null-score rows into the
    * tail of a top-k, and a k-means/bounds fit over null vectors
    * breaks outright. The IsNotNull predicate pushes down to the
    * parquet scan (row-group stats skip it when no nulls exist). */
  private def searchable: DataFrame = chunks.where(col("embedding").isNotNull)

  /** Embed query text with the library's doc/query-symmetric embedder. */
  private[graft] def queryFrame(queryText: String): DataFrame =
    queryRow(embed.embed(lit(queryText), "search_query"))

  /** A one-row query frame over a LOCAL relation: the optimizer folds
    * the projection into the relation, so the single-query operators
    * resolve `qvec` on the driver (VectorSearch.bindQuery) without a
    * Spark job — an expression-backed embedder never leaves the driver. */
  private def queryRow(qvec: Column): DataFrame =
    spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row.empty),
      new org.apache.spark.sql.types.StructType()).select(qvec.as("qvec"))

  /**
   * k-NN search by query text (the reference's POST /search), routed
   * through the library's preferred index algorithm — the analog of
   * the reference switching index classes per library
   * (tests/test_integration_algorithms.py).
   */
  def search(queryText: String, k: Int = 10, metric: String = "cosine",
             filter: Option[Column] = None): DataFrame =
    dispatch(queryFrame(queryText), clampK(k), metric, filter)

  /** Empty (chunk_id, score) result — the empty-library answer for
    * index paths whose builds cannot run on zero rows. */
  private def emptyHits: DataFrame =
    chunks.select(col("chunk_id"), lit(0.0).as("score")).limit(0)

  /** True when `f` resolves against `df`'s schema — i.e. the predicate
    * can be applied to an index layout's own rows. Checked by ANALYZING
    * the filter over a zero-row projection (no data is read). Old
    * layouts written before metadata rode in index rows fail this and
    * fall back to a store-backed scan (correct, just less pruned;
    * rebuilding the index upgrades them). */
  private def covers(df: DataFrame, f: Column): Boolean =
    try { df.limit(0).where(f).queryExecution.analyzed; true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  private def applyF(df: DataFrame, filter: Option[Column]): DataFrame =
    filter.fold(df)(df.where)

  /** Exact search over the filtered store — the fallback serving a
    * metadata-scoped search when the persisted index layout predates
    * the metadata columns (exact results are a superset-recall answer;
    * a rebuild restores the pruned path). */
  private def flatFiltered(q: DataFrame, f: Column, kk: Int,
                           metric: String): DataFrame =
    VectorSearch.knnFlat(searchable.where(f).select(col("chunk_id"), col("embedding")),
      q, "chunk_id", "embedding", kk, metric)

  /**
   * Single-query search routed through the preferred algorithm —
   * shared by the text and raw-vector entry points.
   *
   * `filter` (the reference's per-library search scoping,
   * vector_service.py:186, generalized to arbitrary metadata
   * predicates over doc_id/source/n_tokens/chunk_idx/chunk_text):
   * restricts the SEARCHABLE SET — all k results satisfy it, and it
   * is applied scan-side (inside the pruned partitions of the
   * lsh/ivf/pq/ivfpq layouts, pushed down to the store scan for
   * flat/quantized/binary), never post-hoc on a shortlist.
   */
  private def dispatch(q: DataFrame, kk: Int, metric: String,
                       filter: Option[Column] = None): DataFrame = {
    // grid bounds and k-means fits need rows; an empty library answers
    // [] on every algorithm (reference empty-library semantics). The
    // flat/lsh/quantized scans handle empty input natively.
    if ((algo == "grid" || algo == "ivf" || algo == "pq" || algo == "ivfpq")
        && storeIsEmpty)
      return emptyHits
    algo match {
      case "flat" =>
        VectorSearch.knnFlat(applyF(searchable, filter)
          .select(col("chunk_id"), col("embedding")),
          q, "chunk_id", "embedding", kk, metric)
      case "lsh" =>
        VectorSearch.lshKnnIndexed(applyF(searchable, filter), q,
          "chunk_id", "embedding", "lsh_buckets",
          kk, metric, numTables, bitsPerTable, seed)
      case "grid" if hasGridIndex && filter.isEmpty =>
        // probe the persisted fitted grid: no per-query bounds
        // aggregate, partition-pruned cell scan.
        val (lo, hi, gd, cpd) = gridBoundsStored()
        VectorSearch.gridKnnIndexed(gridTree.open(),
          lo, hi, q, "chunk_id", "embedding", kk, metric, gd, cpd,
          countsOpt = Some(gridCounts()))
      case "grid" if hasGridIndex
          && covers(gridTree.open(), filter.get) =>
        // Filtered search THROUGH the fitted index: the expanding-rule
        // radius resolves from the per-cell occupancy of the FILTERED
        // rows — one narrow (cell, predicate-cols) aggregate over the
        // cell-partitioned layout, not a corpus bounds pass — and the
        // probe scan stays partition-pruned to the chosen cells with
        // the predicate pushed inside them. Results are expanding-rule
        // honest by construction: identical to running the expanding
        // probe over the filtered subset under the frozen fitted
        // bounds. Pre-metadata cell layouts fail covers() and take the
        // store-backed fallback below (rebuild upgrades them).
        val (lo, hi, gd, cpd) = gridBoundsStored()
        val filtered = gridTree.open().where(filter.get)
        VectorSearch.gridKnnIndexed(filtered, lo, hi, q,
          "chunk_id", "embedding", kk, metric, gd, cpd,
          countsOpt = Some(VectorSearch.gridCellCounts(filtered)))
      case "grid" =>
        // expanding-radius probe — the reference's GridIndex.search
        // semantics (widen until >= 2k candidates), so sparse
        // neighborhoods still fill k
        VectorSearch.gridKnnExpanding(applyF(searchable, filter)
          .select(col("chunk_id"), col("embedding")),
          q, "chunk_id", "embedding", kk, metric)
      case "ivf" if hasIvfIndex =>
        // manifest-planned open + driver-resolved probe cells; the
        // predicate applies INSIDE the cluster-pruned scan
        val assigned = ivfTree.open()
        if (filter.forall(covers(assigned, _)))
          IvfIndex.searchAssigned(applyF(assigned, filter), ivfCentersStored(),
            q, "chunk_id", "embedding", kk, metric = metric)
        else flatFiltered(q, filter.get, kk, metric)
      case "ivf" =>
        val (model, assigned) = ivfIndex
        IvfIndex.search(applyF(assigned, filter), model, q,
          "chunk_id", "embedding", kk, metric = metric)
      case "quantized" =>
        VectorSearch.knnQuantizedIndexed(applyF(searchable, filter), q,
          "chunk_id", "embedding", "quant", kk, metric)
      case "binary" if chunks.columns.contains("bits") =>
        // 1-bit rung: Hamming phase 1 over the stored packed-sign
        // column (8 bytes/row at 64 dims), exact re-rank
        VectorSearch.knnBinaryIndexed(applyF(searchable, filter), q,
          "chunk_id", "embedding", "bits", kk, metric)
      case "binary" =>
        // store predates the bits column (schema-evolution guard, same
        // contract as the quant-column index rebuild): pack on the fly
        VectorSearch.knnBinary(applyF(searchable, filter)
          .select(col("chunk_id"), col("embedding")),
          q, "chunk_id", "embedding", kk, metric)
      case "pq" if hasPqIndex =>
        // codes-only ADC scan of the persisted index; exact re-rank on
        // the survivors' float rows
        val codes = pqTree.open()
        if (filter.forall(covers(codes, _)))
          PqIndex.search(applyF(codes, filter), pqBooksStored(), q,
            "chunk_id", "embedding", kk, metric, normalized = true)
        else flatFiltered(q, filter.get, kk, metric)
      case "pq" =>
        val (books, enc) = pqInMemory
        if (filter.forall(covers(enc, _)))
          PqIndex.search(applyF(enc, filter), books, q, "chunk_id", "embedding",
            kk, metric, normalized = true)
        else flatFiltered(q, filter.get, kk, metric)
      case "ivfpq" if hasIvfPqIndex =>
        // partition-pruned (nProbe cells) + column-pruned (codes-only
        // phase 1) scan of the persisted layout; exact re-rank. Side
        // tables come from the per-generation cache (like the batch
        // path) — not re-read from parquet per query.
        val (centers, books) = ivfpqSideStored()
        val encoded = ivfpqTree.open()
        if (filter.forall(covers(encoded, _)))
          IvfPq.search(IvfPq.Index(centers, books, applyF(encoded, filter)),
            q, "chunk_id", "embedding", kk, metric = metric, normalized = true)
        else flatFiltered(q, filter.get, kk, metric)
      case "ivfpq" =>
        val idx = ivfpqInMemory
        if (filter.forall(covers(idx.encoded, _)))
          IvfPq.search(idx.copy(encoded = applyF(idx.encoded, filter)), q,
            "chunk_id", "embedding", kk, metric = metric, normalized = true)
        else flatFiltered(q, filter.get, kk, metric)
    }
  }

  /**
   * k-NN search by raw query vector, routed through the library's
   * preferred index algorithm exactly like the text entry point;
   * validates the query dimension against the library before any scan
   * (reference algorithms.py:79).
   */
  def searchVector(qvec: Seq[Float], k: Int = 10, metric: String = "cosine",
                   filter: Option[Column] = None): DataFrame = {
    if (qvec.length != dim)
      throw new IllegalArgumentException(
        s"query dimension ${qvec.length} does not match library dimension $dim")
    dispatch(queryRow(typedLit(qvec).cast("array<float>")), clampK(k), metric, filter)
  }

  /**
   * Search returning the full chunk payload (the reference's
   * SearchResponse carries each hit's chunk, not just its id —
   * schemas/search_schema.py SearchResult.chunk). The hit set is k
   * rows by construction, so the payload fetch broadcasts the hits
   * into ONE scan of the store — no shuffle, no per-hit lookups; at
   * 100 TB this is a semi-join pushdown over the chunk table, the
   * same shape chunksBatch uses.
   */
  def searchWithChunks(queryText: String, k: Int = 10,
                       metric: String = "cosine",
                       filter: Option[Column] = None): DataFrame = {
    val hits = search(queryText, k, metric, filter)
    chunks
      .select(col("chunk_id"), col("doc_id"), col("source"),
        col("chunk_idx"), col("chunk_text"), col("n_tokens"))
      .join(broadcast(hits), "chunk_id")
      .orderBy(col("score").desc, col("chunk_id").asc)
  }

  /** Approximate search through the PRE-BUILT LSH index: signatures
    * are never recomputed over the corpus at query time. With the
    * bucket-partitioned index present, the probe is a partition-pruned
    * scan of only the probed (tbl, bucket) directories — the 100 TB
    * shape; otherwise it falls back to the integer column probe over
    * the stored `lsh_buckets` (full scan of one small column). Both
    * paths return identical results (same probes, same stored
    * signatures, same exact re-rank). */
  def searchApprox(queryText: String, k: Int = 10,
                   metric: String = "cosine",
                   filter: Option[Column] = None): DataFrame = {
    // The metadata predicate composes with the probe predicate INSIDE
    // the pruned (tbl, bucket) scan — partition pruning picks the
    // probed directories, the pushed-down row filter drops non-matching
    // row groups there; candidates never include filtered-out rows. An
    // index written before metadata rode in its rows falls back to the
    // store's bucket-column probe over the filtered store.
    if (hasPartitionedIndex && filter.forall(covers(partitionedIndex, _)))
      VectorSearch.lshKnnPartitioned(applyF(partitionedIndex, filter),
        queryFrame(queryText),
        "chunk_id", "embedding", clampK(k), metric, numTables, bitsPerTable, seed)
    else
      VectorSearch.lshKnnIndexed(applyF(searchable, filter), queryFrame(queryText),
        "chunk_id", "embedding", "lsh_buckets",
        clampK(k), metric, numTables, bitsPerTable, seed)
  }

  /**
   * Two-phase approximate search served ENTIRELY from the partitioned
   * index: the pruned (tbl, bucket) directories are scanned twice —
   * once reading only the int8 `quant` codes (phase-1 ranking, ~1/4
   * the bytes of the float probe) and once reading floats for just the
   * rerankFactor*k phase-1 survivors (exact re-rank). Falls back to
   * `searchApprox` when the partitioned index is absent or predates
   * the codes column. Recall matches `searchApprox` whenever the int8
   * ranking preserves the true top-k inside its rerank window.
   */
  def searchApproxQuantized(queryText: String, k: Int = 10,
                            rerankFactor: Int = 4,
                            metric: String = "cosine",
                            filter: Option[Column] = None): DataFrame = {
    if (hasPartitionedIndex && partitionedIndex.columns.contains("quant")
        && filter.forall(covers(partitionedIndex, _)))
      VectorSearch.lshKnnPartitionedQuantized(applyF(partitionedIndex, filter),
        queryFrame(queryText),
        "chunk_id", "embedding", "quant", clampK(k), metric,
        numTables, bitsPerTable, seed, rerankFactor = rerankFactor)
    else searchApprox(queryText, k, metric, filter)
  }

  /** Embedded query frame for the batch endpoints: query_id = position
    * in the input list. */
  private def queriesFrame(queryTexts: Seq[String]): DataFrame = {
    require(queryTexts.nonEmpty, "queryTexts must be non-empty")
    import spark.implicits._
    queryTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "qtext")
      .select(col("query_id"),
        embed.embed(col("qtext"), "search_query").as("qvec"))
  }

  /**
   * Batch k-NN search routed through the library's preferred index
   * algorithm — the batch twin of `search`, so N query texts cost one
   * pass over whichever index serves them (union-pruned scan for
   * lsh/ivf/grid, one int8 scan for quantized, one corpus scan for
   * flat) instead of N.
   */
  def searchBatch(queryTexts: Seq[String], k: Int = 10,
                  metric: String = "cosine",
                  filter: Option[Column] = None): DataFrame = {
    val kk = clampK(k)
    val queries = queriesFrame(queryTexts)
    if ((algo == "grid" || algo == "ivf" || algo == "pq" || algo == "ivfpq")
        && storeIsEmpty)
      return queries.limit(0).select(col("query_id"),
        lit("").as("chunk_id"), lit(0.0).as("score"), lit(0).as("rank"))
    // Metadata-scoped batch fallback for layouts predating the
    // metadata columns: one exact pass over the filtered store.
    def flatBatchFiltered(f: Column): DataFrame =
      VectorSearch.knnBatchGeneric(
        searchable.where(f).select(col("chunk_id"), col("embedding")),
        queries, "chunk_id", "embedding", kk, metric)
    algo match {
      case "flat" =>
        VectorSearch.knnBatchGeneric(applyF(searchable, filter)
          .select(col("chunk_id"), col("embedding")),
          queries, "chunk_id", "embedding", kk, metric)
      case "lsh" => approxBatch(queries, kk, metric, filter)
      case "grid" if hasGridIndex && filter.isEmpty =>
        val (lo, hi, gd, cpd) = gridBoundsStored()
        VectorSearch.gridKnnIndexedBatch(gridTree.open(),
          lo, hi, queries, "chunk_id", "embedding", kk, metric, gd, cpd,
          countsOpt = Some(gridCounts()))
      case "grid" if hasGridIndex
          && covers(gridTree.open(), filter.get) =>
        // filtered batch through the fitted index — same contract as
        // the single-query arm: radii from the FILTERED per-cell
        // occupancy, predicate inside the cell-pruned scan
        val (lo, hi, gd, cpd) = gridBoundsStored()
        val filtered = gridTree.open().where(filter.get)
        VectorSearch.gridKnnIndexedBatch(filtered, lo, hi, queries,
          "chunk_id", "embedding", kk, metric, gd, cpd,
          countsOpt = Some(VectorSearch.gridCellCounts(filtered)))
      case "grid" =>
        // no fitted index, or a pre-metadata cell layout that cannot
        // resolve the predicate: expanding probe over the filtered
        // store (rebuild upgrades the layout)
        VectorSearch.gridKnnExpandingBatch(applyF(searchable, filter)
          .select(col("chunk_id"), col("embedding")),
          queries, "chunk_id", "embedding", kk, metric)
      case "ivf" if hasIvfIndex =>
        val assigned = ivfTree.open()
        if (filter.forall(covers(assigned, _)))
          IvfIndex.searchAssignedBatch(applyF(assigned, filter),
            ivfCentersStored(), queries, "chunk_id", "embedding", kk,
            metric = metric)
        else flatBatchFiltered(filter.get)
      case "ivf" =>
        // same lazy in-memory build the single-query path uses — a
        // read API must not persist a new on-disk layout as a side
        // effect
        val (model, assigned) = ivfIndex
        IvfIndex.searchBatch(applyF(assigned, filter), model, queries,
          "chunk_id", "embedding", kk, metric = metric)
      case "quantized" =>
        VectorSearch.knnQuantizedBatch(applyF(searchable, filter), queries,
          "chunk_id", "embedding", "quant", kk, metric)
      case "binary" if chunks.columns.contains("bits") =>
        VectorSearch.knnBinaryBatch(applyF(searchable, filter), queries,
          "chunk_id", "embedding", "bits", kk, metric)
      case "binary" =>
        VectorSearch.knnBinaryBatch(
          applyF(searchable, filter).select(col("chunk_id"), col("embedding"))
            .withColumn("bits", bitPack(col("embedding"))),
          queries, "chunk_id", "embedding", "bits", kk, metric)
      case "pq" if hasPqIndex =>
        val codes = pqTree.open()
        if (filter.forall(covers(codes, _)))
          PqIndex.searchBatch(applyF(codes, filter), pqBooksStored(),
            queries, "chunk_id", "embedding", kk, metric, normalized = true)
        else flatBatchFiltered(filter.get)
      case "pq" =>
        val (books, enc) = pqInMemory
        if (filter.forall(covers(enc, _)))
          PqIndex.searchBatch(applyF(enc, filter), books, queries,
            "chunk_id", "embedding", kk, metric, normalized = true)
        else flatBatchFiltered(filter.get)
      case "ivfpq" if hasIvfPqIndex =>
        val encoded = ivfpqTree.open()
        if (filter.forall(covers(encoded, _)))
          IvfPq.searchBatch(
            IvfPq.Index(ivfpqSideStored()._1, ivfpqSideStored()._2,
              applyF(encoded, filter)),
            queries, "chunk_id", "embedding", kk, metric = metric, normalized = true)
        else flatBatchFiltered(filter.get)
      case "ivfpq" =>
        val idx = ivfpqInMemory
        if (filter.forall(covers(idx.encoded, _)))
          IvfPq.searchBatch(idx.copy(encoded = applyF(idx.encoded, filter)),
            queries, "chunk_id", "embedding", kk, metric = metric, normalized = true)
        else flatBatchFiltered(filter.get)
    }
  }

  /** Batch approximate search: N query texts answered in ONE pass over
    * the LSH index. With the partitioned index present, the scan reads
    * the UNION of all queries' probe partitions once (planning-time
    * pruning), so Q queries cost one pruned scan, not Q; otherwise the
    * stored `lsh_buckets` column probes in a single bucket join. Rows:
    * (query_id, chunk_id, score, rank), query_id = position in input. */
  def searchApproxBatch(queryTexts: Seq[String], k: Int = 10,
                        metric: String = "cosine",
                        filter: Option[Column] = None): DataFrame =
    approxBatch(queriesFrame(queryTexts), clampK(k), metric, filter)

  /**
   * Diversity-aware search (MMR, the RAG retrieval endpoint): the
   * distributed relevance shortlist comes from the flat corpus scan,
   * the greedy lambda-blend selection diversifies it — near-duplicate
   * chunks (adjacent chunks of one document are often near-identical)
   * stop crowding out coverage of the result list. Returns
   * (rank, chunk_id, score) in selection order.
   */
  def searchDiverse(queryText: String, k: Int = 10,
                    lambda: Double = 0.7,
                    filter: Option[Column] = None): DataFrame =
    operators.VectorSearch.mmrRerank(
      applyF(searchable, filter).select(col("chunk_id"), col("embedding")),
      queryFrame(queryText), "chunk_id", "embedding", clampK(k), lambda)
      .withColumnRenamed("rel", "score")

  /** Batch twin of [[searchDiverse]]: N query texts share ONE
    * relevance-shortlist scan (bounded per-query heap + one In-filter
    * vector fetch); the greedy lambda-blend selection runs per query
    * over its k-scale candidates, identical in order to the
    * single-query form. Rows (query_id, rank, chunk_id, score). */
  def searchDiverseBatch(queryTexts: Seq[String], k: Int = 10,
                         lambda: Double = 0.7,
                         filter: Option[Column] = None): DataFrame =
    operators.VectorSearch.mmrRerankBatch(
      applyF(searchable, filter).select(col("chunk_id"), col("embedding")),
      queriesFrame(queryTexts), "chunk_id", "embedding", clampK(k), lambda)
      .withColumnRenamed("rel", "score")

  /** Batch search with full chunk payloads: the Q*k-row hit set
    * broadcasts into ONE store scan, same as searchWithChunks. */
  def searchBatchWithChunks(queryTexts: Seq[String], k: Int = 10,
                            metric: String = "cosine",
                            filter: Option[Column] = None): DataFrame = {
    val hits = searchBatch(queryTexts, k, metric, filter)
    chunks
      .select(col("chunk_id"), col("doc_id"), col("source"),
        col("chunk_idx"), col("chunk_text"), col("n_tokens"))
      .join(broadcast(hits), "chunk_id")
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  private def approxBatch(queries: DataFrame, kk: Int,
                          metric: String = "cosine",
                          filter: Option[Column] = None): DataFrame = {
    if (hasPartitionedIndex && filter.forall(covers(partitionedIndex, _)))
      VectorSearch.lshKnnPartitionedBatch(applyF(partitionedIndex, filter), queries,
        "chunk_id", "embedding", kk, metric, numTables, bitsPerTable, seed)
    else
      VectorSearch.lshKnnBatchIndexed(applyF(searchable, filter), queries,
        "chunk_id", "embedding", "lsh_buckets", kk, metric,
        numTables, bitsPerTable, seed)
  }

  // --- bucket-partitioned exploded LSH index -------------------------
  // The on-disk analog of the reference's in-memory per-bucket lists
  // (LSHIndex._tables, algorithms.py:300-360): one directory per
  // (table, bucket) holding the (chunk_id, embedding) rows hashed
  // there. A probe reads ~numTables*(1+extraProbes) of the
  // numTables*2^bits directories — I/O proportional to the candidate
  // set, not the corpus. Embeddings are duplicated numTables times
  // (the classic LSH space/time trade); the chunk store remains the
  // source of truth and the index is derived, rebuildable data.

  /** True when the partitioned index has been built AND holds data
    * (a dataless directory cannot be probed — schema inference has
    * nothing to read; the fallback column probe serves instead). */
  def hasPartitionedIndex: Boolean = hasVisibleData(indexPath)

  // --- derived-layout file manifests ----------------------------------
  // Every persisted index layout publishes its LIVE file set through
  // root-level generation-numbered manifests (graft.plans.
  // ManifestedTree): readers plan from the manifest chain instead of
  // listing the partition directories (zero-stat opens), incremental
  // mutations commit O(batch) DELTA manifests (full rebase every 16),
  // and every install is a rename to a fresh generation file (atomic
  // commits with a reader grace chain — a crashed writer's orphans
  // are invisible by construction). The same commit discipline a lake
  // table format applies, scoped to the derived layouts.
  // Pre-manifest layouts read via listing (unchanged behavior) and are
  // upgraded by the next mutation. Maintenance resolution scans
  // (victim files, compaction occupancy) stay listing-based: they run
  // under the single-writer discipline the COW design already assumes.
  private def intTree(root: String, cols: String*) = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    new graft.plans.ManifestedTree(spark, root,
      StructType(cols.map(c => StructField(c, IntegerType))))
  }
  private def strTree(root: String, cols: String*) = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    new graft.plans.ManifestedTree(spark, root,
      StructType(cols.map(c => StructField(c, StringType))))
  }
  private val lshTree = intTree(indexPath, "tbl", "bucket")
  // The STORE itself carries the same discipline — it is the biggest
  // tree of all, and the one a recovery re-derives everything from.
  private val storeTree = strTree(path, "source")

  /** The bucket-partitioned index, memoized per manifest generation. */
  private def partitionedIndex: DataFrame = lshTree.open()

  /** Exploded index rows of an embedded chunk batch, clustered per
    * (tbl, bucket) partition directory and SORTED BY chunk_id within
    * it (the shuffle moves only id+vector+codes, never the text). The
    * sort is what makes targeted deletes cheap: with file sizes
    * bounded by [[indexMaxRecordsPerFile]], one document's rows sit
    * contiguously and land in one or two files per directory, so a
    * copy-on-write delete rewrites those files — not the whole bucket,
    * however hot it is (LSH buckets are skewed by construction: near-
    * duplicate corpora pile identical signatures into few buckets).
    * The int8 `quant` codes ride along so a two-phase probe can run
    * fully index-resident (phase 1 over codes, phase 2 over floats —
    * both column-pruned reads of the same directories). */
  private def indexRows(embedded: DataFrame): DataFrame =
    embedded.select(col("chunk_id"), col("embedding"), col("quant"),
      // Filterable metadata rides IN the index rows (doc_id, source,
      // n_tokens — ints + a short string next to a 64-float vector),
      // so a metadata-scoped search applies its predicate inside the
      // pruned (tbl, bucket) scan — partition pruning x row-group
      // pushdown — instead of post-hoc on the shortlist.
      col("doc_id"), col("source"), col("n_tokens"),
      posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
      .repartition(col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"), col("chunk_id"))

  /** Rolling threshold for index data files (~5 MB at the 64-dim row
    * shape): bounds the unit of a copy-on-write rewrite. Without it a
    * partition directory is one monolithic file and deleting a single
    * document from a hot bucket rewrites the entire bucket. */
  private val indexMaxRecordsPerFile = 16384

  /** Build (or rebuild) the bucket-partitioned index from the store.
    * Later `addDocuments` / `ingestStreamIndexed` batches append only
    * their own rows to the affected partitions — incremental, never a
    * full rewrite. */
  def buildPartitionedIndex(): Unit = withTreeLocks(Seq("lsh")) {
    val storeSnapGen = storeTree.snapshotGen() // before the row frames plan
    installRebuild(lshTree, healAppend = Some(b =>
      lshTree.appendCommitted(indexRows(b), indexMaxRecordsPerFile)),
      storeSnapGen = storeSnapGen) { (tmp, _) =>
      indexRows(chunks).write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", indexMaxRecordsPerFile)
        .partitionBy("tbl", "bucket").parquet(tmp)
    }
  }

  /** Install a rebuild history-preservingly: the fresh tree writes to
    * a tmp sibling, its files rename INTO the live root beside the
    * previous generation's files (fresh UUID part-names — no clashes,
    * no directory swap, no vanished paths for a concurrent reader
    * mid-plan or pinned to an epoch), and the manifest commits a FULL
    * generation referencing exactly the fresh set
    * ([[graft.plans.ManifestedTree.commitReplaceAll]]). The displaced
    * files stay on disk, manifest-invisible, until vacuum — the
    * Delta REPLACE shape, same as delete's [[cowTree]] install. A
    * crash before the commit leaves only invisible orphans (the
    * dot-prefixed tmp sibling — swept by [[vacuumIndexes]]).
    *
    * `write(tmp, gen)` receives the GENERATION this rebuild will
    * commit (head+1 — exact while this writer holds the lease) so
    * geometry sidecars (centroids/books/bounds/stats) land
    * generation-numbered (`<base>.g<gen>`, [[geomSuffix]]) BEFORE any
    * visibility flip: head readers keep resolving the previous
    * geometry (newest sidecar <= old head), and the new geometry
    * becomes resolvable atomically WITH the manifest commit. A crash
    * after the sidecar write but before the commit leaves the sidecar
    * numbered ABOVE the head — invisible to resolution, overwritten
    * by the next rebuild's identical prediction. This closes the two
    * r10 holes at once: no crash window pairs new geometry with old
    * manifested rows, and [[consistentAt]]/[[searchAt]] readers of
    * encoded trees decode old codes under the OLD geometry across a
    * rebuild. */
  /** Test seam: runs after a rebuild's rows+sidecars are staged but
    * before the manifest commit — the window in which a concurrent
    * ingest's store commit would make the fresh index stale. Specs
    * install an ingest here to exercise the commit-time skew heal. */
  private[graft] var onRebuildBeforeCommit: () => Unit = () => ()

  /** `storeSnapGen` is the store generation the BUILD METHOD captured
    * at planning time (via [[buildSnapGen]], before its row-source
    * frames resolve). Capturing here at install entry instead would
    * race a concurrent same-instance ingest (a streaming foreachBatch
    * thread) whose invalidateIndexes cleared the store stateCache
    * between planning and install: snapshotGen() would fall back to
    * the POST-ingest fresh head while the row job still reads the
    * pre-ingest planned files — exactly the skew the heal exists to
    * detect, silently skipped. Capture-before-plan errs the benign
    * way: an ingest landing between capture and plan makes the heal
    * fire on an already-included batch (empty anti-join, no append). */
  private def installRebuild(tree: graft.plans.ManifestedTree,
                             healAppend: Option[DataFrame => Unit] = None,
                             storeSnapGen: Long = -1L)
                            (write: (String, Long) => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val treeRoot = tree.root.stripSuffix("/")
    val rootP = new Path(treeRoot)
    // dot-prefixed (consistent with .chunks_cow): invisible to any
    // listing-based reader, and vacuumIndexes sweeps crash leftovers
    val tmp = new Path(rootP.getParent, s".${rootP.getName}.rebuild_tmp").toString
    val fs = hadoopFs(treeRoot)
    fs.delete(new Path(tmp), true)
    // pre-r11 rebuilds used a non-dotted sibling; clear a crash
    // leftover from that era too
    fs.delete(new Path(treeRoot + ".rebuild_tmp"), true)
    // FRESH head, not the memoized listing: the predicted generation
    // names the sidecar files, and a stale cache over another
    // instance's commit would number them onto an EXISTING generation
    // (overwriting its live geometry at install). The commit itself
    // self-heals staleness (assertHeadFresh + retry); the prediction
    // must start fresh.
    tree.invalidate()
    val gen = math.max(tree.freshHeadGen(), 0L) + 1
    write(tmp, gen)
    val fresh = graft.plans.ManifestedTree.listTree(spark, tmp, None)
    fresh.foreach { case (rel, _) =>
      val dst = new Path(s"$treeRoot/$rel")
      fs.mkdirs(dst.getParent)
      if (!fs.rename(new Path(s"$tmp/$rel"), dst))
        throw new java.io.IOException(s"rebuild: cannot install $treeRoot/$rel")
    }
    // Geometry sidecars were STAGED by the callback under `$tmp/_geom`
    // (invisible to listTree — underscore) and install here, AFTER the
    // row job and immediately BEFORE the manifest commit: a crash
    // anywhere in the long row job leaves the sidecars inside the tmp
    // tree (cleared by the next rebuild, swept by vacuum), so the
    // window in which an orphan `<base>.g<head+1>` exists without its
    // commit is a few driver-side renames — and even that residue is
    // swept by every append/compact/delete/vacuum path before a later
    // commit could land on (and silently adopt) the orphan's
    // generation ([[sweepOrphanGeom]]).
    // Test seam BEFORE the sidecar install: a reentrant ingest fired
    // here sweeps no staged sidecar (none exists yet) — the same
    // ordering an interleaved writer's append-before-our-install has.
    onRebuildBeforeCommit()
    val geomStage = new Path(s"$tmp/${VectorLibrary.GeomStageDir}")
    if (fs.exists(geomStage)) fs.listStatus(geomStage).foreach { st =>
      val dst = new Path(rootP.getParent, st.getPath.getName)
      fs.delete(dst, true)
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"rebuild: cannot install sidecar $dst")
    }
    fs.delete(new Path(tmp), true)
    // commitReplaceAll RETURNS the generation it installed — the only
    // race-free answer. Re-listing the tree here instead would adopt a
    // foreign commit landing in the replace→list window (lease-expiry
    // edge), and the staged sidecar would be renamed to the FOREIGN
    // generation: the rebuild's rows would silently decode under an
    // older geometry.
    val committed = tree.commitReplaceAll(fresh)
    // new sidecar generation + new tree head: resolution answers change
    dropResolveCaches()
    // If an interleaved commit advanced THIS tree between the gen
    // prediction and the replace (commitFull retried onto a fresh
    // number), the staged sidecars are numbered at the interleaver's
    // generation: re-number them to the generation the rebuild rows
    // actually committed at, so (a) the head decodes its fresh rows
    // under the fresh geometry and (b) the interleaved generation
    // keeps resolving the geometry ITS rows were encoded under.
    if (committed != gen) {
      geomBases.collectFirst { case (t, bases) if t eq tree => bases }
        .foreach(_.foreach { base =>
          val src = new Path(base + geomSuffix(gen))
          val gfs = hadoopFs(base)
          if (!gfs.exists(src) || !gfs.rename(src, new Path(base + geomSuffix(committed))))
            throw new IllegalStateException(s"rebuild of $treeRoot " +
              s"committed at generation $committed (predicted $gen) and " +
              s"its staged geometry at $src is gone — an interleaved " +
              "writer swept it; re-run this index build")
        })
      // a concurrent reader may have repopulated geomGensCache from
      // the pre-rename listing in the rename window — drop again so
      // the renamed sidecar resolves without waiting for this
      // instance's next mutation (mirrors sweepOrphanGeom)
      dropResolveCaches()
    }
    healAppend.foreach(healRebuildSkew(tree, storeSnapGen, _))
  }

  /** Commit-time skew detection (r11 verdict #3): if the store head
    * advanced past the snapshot a just-committed index build read,
    * fold the missed rows in — under the build's FROZEN geometry, via
    * the same per-tree append [[repairIndexes]] uses — before the
    * build's lease releases. The committed index then tracks the
    * store at the next epoch with no manual repair. Rows DELETED
    * mid-build (a ghost skew) cannot be healed by an append; they are
    * detected and reported loudly with the existing repairIndexes
    * remedy (a delete interleave requires the all-tree footprint, so
    * it can only reach here through lease-expiry edge cases). */
  private def healRebuildSkew(tree: graft.plans.ManifestedTree,
                              storeSnapGen: Long,
                              append: DataFrame => Unit): Unit = {
    if (storeTree.freshHeadGen() <= storeSnapGen) return
    // see the interleaved batch: this instance's store caches predate
    // it — and the geometry head caches must re-resolve at the
    // JUST-COMMITTED generation so the append encodes under the new
    // frozen geometry, not the pre-build one
    storeTree.invalidate()
    emptyCache = None
    gridMetaCache = None; gridCountsCache = None
    pqBooksCache = None; ivfpqSideCache = None
    val ids = tree.open().select(col("chunk_id")).distinct()
    val missing = searchable
      .join(ids, Seq("chunk_id"), "left_anti").persist()
    try {
      if (missing.limit(1).count() > 0) {
        System.err.println(s"[graft] rebuild of ${tree.root}: store " +
          s"advanced past the build snapshot (gen $storeSnapGen) — " +
          "appending the interleaved rows under the frozen geometry")
        append(missing)
      }
      val ghosts = ids.join(searchable.select("chunk_id"),
        Seq("chunk_id"), "left_anti").count()
      if (ghosts > 0)
        System.err.println(s"[graft] rebuild of ${tree.root}: $ghosts " +
          "index rows have no store row (rows were deleted mid-build) — " +
          "run repairIndexes() to rebuild this index against the store")
    } finally missing.unpersist()
  }

  /** Delete geometry sidecars numbered ABOVE the tree's head — a
    * failed rebuild's prediction whose commit never happened (the
    * staging above makes this a crash-between-renames residue only).
    * MUST run, under the tree's held lease, before any NON-REBUILD
    * commit that advances this tree's generation (append, compact
    * swap, COW delete): that commit would otherwise land ON the
    * orphan's generation and every reader would adopt the failed
    * build's geometry for rows it never encoded. A tree with no
    * committed generations sweeps every suffixed sidecar (nothing can
    * resolve them, and the next commit is generation 1). */
  private def sweepOrphanGeom(tree: graft.plans.ManifestedTree): Unit =
    geomBases.collectFirst { case (t, bases) if t eq tree => bases }
      .foreach { bases =>
        // this runs only at the head of a mutation (under the tree's
        // lease): re-resolve EVERYTHING from disk — including the
        // tree's own generation listing (r12 memo), which may predate
        // another instance's rebuild; a stale head here would sweep
        // that rebuild's LIVE sidecar as an "orphan"
        dropResolveCaches()
        tree.invalidate()
        // headGenOf: a legacy data-bearing manifest-less tree reads as
        // MaxValue (sweep nothing); a never-committed empty tree as -1
        // (every suffixed sidecar is an orphan)
        val head = headGenOf(tree)
        bases.foreach { base =>
          geomGens(base).filter(g => head < 0 || g > head).foreach { g =>
            hadoopFs(base).delete(
              new org.apache.hadoop.fs.Path(base + geomSuffix(g)), true)
          }
        }
        geomGensCache.clear()
      }

  // --- generation-numbered geometry sidecars ---------------------------
  // IVF/PQ/IVF-PQ centroids+codebooks+stats and grid bounds are tiny
  // driver-side tables, but they are GEOMETRY: encoded rows only decode
  // correctly under the geometry they were written with. Each rebuild
  // writes its sidecars at `<base>.g<gen>` where `gen` is the row
  // tree's committed manifest generation; a reader of tree generation g
  // resolves the NEWEST sidecar generation <= g (falling back to the
  // plain pre-versioning path). Head reads resolve at the head
  // generation; consistentAt/searchAt resolve at the epoch's recorded
  // generation — so a pinned reader straddling a rebuild decodes old
  // codes under old geometry. Sidecar reads COLLECT at call time
  // (never lazily planned), so vacuum's structural rule — keep exactly
  // the resolvers of retained generations — needs no time window.

  private def geomSuffix(gen: Long): String = f".g$gen%09d"

  /** Sidecar generations recorded beside `base`, ascending. Memoized
    * per base ([[dropResolveCaches]]) — one listing per cache life,
    * not one per search. */
  private def geomGens(base: String): Seq[Long] =
    geomGensCache.getOrElseUpdate(base, {
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = hadoopFs(base)
      val prefix = p.getName + ".g"
      resolveListCount += 1
      if (!fs.exists(p.getParent)) Seq.empty
      else fs.listStatus(p.getParent).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(n => n.stripPrefix(prefix).toLongOption).sorted
    })

  /** Load-once geometry: `load` runs at most once per (base, resolved
    * suffix) per cache life. Keyed by the RESOLVED suffix — two tree
    * generations served by the same sidecar share one entry, and an
    * epoch-pinned read shares the head's entry when the head resolves
    * the same geometry. Sidecar content at a resolvable generation is
    * immutable (rebuilds write at NEW generations; orphan sweeps only
    * touch generations above the head), and every delete path drops
    * the cache anyway. */
  private def geomLoad[T <: AnyRef](base: String, gen: Long)(load: String => T): T = {
    val suffix = geomSuffixAt(base, gen)
    geomLoadCache.getOrElseUpdate(base + suffix, load(base + suffix))
      .asInstanceOf[T]
  }

  /** Suffix of the sidecar serving tree generation `gen`: the newest
    * recorded geometry <= gen, or "" (the plain pre-versioning path)
    * when none is recorded. */
  private def geomSuffixAt(base: String, gen: Long): String =
    geomGens(base).filter(_ <= gen).lastOption.map(geomSuffix).getOrElse("")

  /** The tree's head generation for geometry resolution. Two
    * manifest-less cases must read differently: a LEGACY pre-manifest
    * tree (visible data, geometry wherever its era wrote it) resolves
    * the newest geometry (MaxValue — the listing IS its head), while
    * a never-committed EMPTY tree resolves nothing (-1): a
    * first-build crash orphan sidecar must not read as a live index —
    * it would route search to a zero-row tree. */
  private def headGenOf(tree: graft.plans.ManifestedTree): Long =
    tree.generations().lastOption.map(_._1).getOrElse {
      if (hasVisibleData(tree.root.stripSuffix("/"))) Long.MaxValue else -1L
    }

  /** True when geometry RESOLVABLE AT THE TREE HEAD exists for `base`:
    * a suffixed sidecar the head resolves, or the plain pre-versioning
    * path. A crash orphan beside a never-committed empty tree does
    * not count as an index. */
  private def hasGeom(base: String, tree: graft.plans.ManifestedTree): Boolean =
    geomGens(base).exists(_ <= headGenOf(tree)) ||
      hadoopFs(base).exists(new org.apache.hadoop.fs.Path(base))

  /** Drop the partitioned index (search falls back to the column probe). */
  def dropPartitionedIndex(): Unit = withTreeLocks(Seq("lsh")) {
    hadoopFs(indexPath).delete(new org.apache.hadoop.fs.Path(indexPath), true)
    lshTree.invalidate()
    dropResolveCaches()
  }

  /**
   * Selective compaction of the partitioned LSH index — the OPTIMIZE
   * half of a lake table's maintenance loop, shared by every
   * manifested layout (see [[graft.plans.ManifestedTree.compact]] for
   * the rewrite-beside + manifest-flip + vacuum mechanics). Only
   * directories fragmented past `maxFilesPerPartition` SMALL files
   * rewrite; a hot bucket legitimately holding several files at the
   * rolling bound is never re-compacted (merging full-size files
   * would undo the bounded-rewrite-unit property deletes rely on).
   * Returns the number of directories compacted.
   */
  def compactPartitionedIndex(maxFilesPerPartition: Int = 4,
                              vacuumAfter: Boolean = true): Int = withTreeLocks(Seq("lsh")) {
    if (!hasPartitionedIndex) return 0
    lshTree.compact(maxFilesPerPartition, indexMaxRecordsPerFile,
      Seq("chunk_id"), vacuumAfter = vacuumAfter)
  }

  /**
   * One maintenance pass over the store AND every persisted derived
   * layout: compact each fragmented partition directory, committed
   * through its manifest. The whole-library OPTIMIZE a deployment
   * schedules after streaming ingest (each micro-batch leaves one
   * small file per touched directory in each layout).
   * `vacuumAfter = false` defers fragment removal to a later
   * [[vacuumIndexes]] — the reader grace period: in-flight readers of
   * the previous generation keep collecting from the intact fragments
   * while new readers already plan the compacted files.
   * Returns (tree -> directories compacted).
   */
  def compactIndexes(maxFilesPerPartition: Int = 4,
                     vacuumAfter: Boolean = true): Map[String, Int] = withWriterLock {
    // compaction swaps advance tree generations — sweep crash-orphan
    // geometry first so no swap commit lands on an orphan's number
    geomBases.foreach { case (t, _) => sweepOrphanGeom(t) }
    val passes = Seq(
      // the store compacts to training-shard-sized files (1M chunk
      // rows), not the index trees' delete-granularity bound
      ("store", hasVisibleData(path), () =>
        storeTree.compact(maxFilesPerPartition, 1L << 20, Seq("doc_id"),
          vacuumAfter = vacuumAfter)),
      ("lsh", hasPartitionedIndex, () =>
        compactPartitionedIndex(maxFilesPerPartition, vacuumAfter)),
      ("ivf", hasIvfIndex, () =>
        ivfTree.compact(maxFilesPerPartition, IvfIndex.maxRecordsPerFile,
          Seq("chunk_id"), vacuumAfter = vacuumAfter)),
      ("grid", hasGridIndex, () =>
        gridTree.compact(maxFilesPerPartition, indexMaxRecordsPerFile,
          Seq("chunk_id"), vacuumAfter = vacuumAfter)),
      ("pq", hasPqIndex, () =>
        pqTree.compact(maxFilesPerPartition, indexMaxRecordsPerFile,
          Seq("chunk_id"), vacuumAfter = vacuumAfter)),
      ("ivfpq", hasIvfPqIndex, () =>
        ivfpqTree.compact(maxFilesPerPartition, indexMaxRecordsPerFile,
          Seq("chunk_id"), vacuumAfter = vacuumAfter)))
    val out = passes.collect { case (n, true, run) => n -> run() }.toMap
    invalidateIndexes()
    out
  }

  /** Standalone vacuum: remove files no RESOLVABLE read can reach —
    * crash orphans, and fragments a deferred-vacuum compaction left
    * for the reader grace period — across the store and every
    * persisted layout. Two protections, layered exactly as
    * [[graft.plans.ManifestedTree.vacuum]]: files referenced by any
    * RETAINED manifest generation always survive (so a default-arg
    * vacuum can never truncate the [[restoreTo]]/[[restoreToEpoch]]/
    * [[consistentAt]] horizon), and files outside every retained
    * generation are collected only once dead longer than
    * `olderThanMs` (default 7 days, Delta's own). `retainNone = true`
    * is the explicit truncate-history switch and drops BOTH
    * protections: only the current generation survives, collected
    * immediately regardless of the window. Returns
    * (tree -> files removed). */
  def vacuumIndexes(
      olderThanMs: Long = graft.plans.ManifestedTree.DefaultRetentionMs,
      retainNone: Boolean = false): Map[String, Int] = withWriterLock {
    // BEFORE the per-tree vacuums: a retainNone vacuum REBASES each
    // tree (a generation-advancing commit), which could land exactly
    // on a crash-orphan sidecar's number — vacuumGeometry would then
    // keep the failed build's geometry and delete the legitimate one.
    // Same sweep-before-commit rule as every other non-rebuild commit.
    geomBases.foreach { case (t, _) => sweepOrphanGeom(t) }
    val removed = Map(
      "store" -> storeTree, "lsh" -> lshTree, "ivf" -> ivfTree,
      "grid" -> gridTree, "pq" -> pqTree, "ivfpq" -> ivfpqTree)
      .map { case (n, t) => n -> t.vacuum(olderThanMs, retainNone) }
    // crash-stranded rebuild tmp siblings: no manifest references them
    // and (dot-prefixed) no listing scans them, so only this sweep —
    // or the same index rebuilding again — ever reclaims one
    sweepRebuildTmp()
    // geometry sidecars: keep exactly the resolvers of the retained
    // row-tree generations (sidecar reads collect at call time, never
    // lazily planned, so the structural rule needs no time window)
    vacuumGeometry()
    // truncated history must be structurally invisible: an epoch whose
    // recorded generations just lost their manifests (retainNone
    // pruned them) would otherwise resolve to a raw read failure later
    if (retainNone) pruneUnresolvableEpochs()
    removed
  }

  /** Delete crash-stranded `.{tree}.rebuild_tmp` siblings (and the
    * pre-r11 non-dotted form) of every manifested tree. Runs under the
    * writer lock, so no in-flight rebuild's tmp can be swept. */
  private def sweepRebuildTmp(): Unit = {
    import org.apache.hadoop.fs.Path
    epochTrees.foreach { case (_, t) =>
      val rootP = new Path(t.root.stripSuffix("/"))
      val fs = hadoopFs(t.root)
      fs.delete(new Path(rootP.getParent, s".${rootP.getName}.rebuild_tmp"), true)
      fs.delete(new Path(rootP.getParent, s"${rootP.getName}.rebuild_tmp"), true)
    }
  }

  /** The geometry-sidecar bases of every encoded tree. */
  private def geomBases: Seq[(graft.plans.ManifestedTree, Seq[String])] = Seq(
    gridTree -> Seq(s"$gridPath/bounds"),
    ivfTree -> Seq(s"$ivfPath/centroids", s"$ivfPath/stats"),
    pqTree -> Seq(s"$pqPath/books"),
    ivfpqTree -> Seq(s"$ivfpqPath/centroids", s"$ivfpqPath/books",
      s"$ivfpqPath/stats"))

  /** Remove geometry sidecar generations no retained row-tree
    * generation resolves to — including crash orphans numbered above
    * the head (a prediction whose commit never happened). The plain
    * pre-versioning path is never removed: it is the fallback resolver
    * for generations older than the first versioned sidecar. Returns
    * the number of sidecar directories removed. */
  private def vacuumGeometry(): Int = {
    var removed = 0
    geomBases.foreach { case (tree, bases) =>
      val retained = tree.generations().map(_._1)
      if (retained.nonEmpty) bases.foreach { base =>
        val gens = geomGens(base)
        val needed: Set[Long] =
          retained.flatMap(g => gens.filter(_ <= g).maxOption).toSet
        gens.filterNot(needed).foreach { g =>
          if (hadoopFs(base).delete(
              new org.apache.hadoop.fs.Path(base + geomSuffix(g)), true))
            removed += 1
        }
      }
    }
    if (removed > 0) dropResolveCaches()
    removed
  }

  /** Drop epoch records whose per-tree generation tuple no longer
    * resolves (a tree's retained window moved past it, or the tree was
    * dropped entirely) — called after a retainNone vacuum so truncated
    * history reads as "epoch not recorded", not a mid-scan IO error. */
  private def pruneUnresolvableEpochs(): Int = {
    val minGen: Map[String, Long] = epochTrees.map { case (n, t) =>
      n -> t.generations().headOption.map(_._1).getOrElse(Long.MaxValue) }.toMap
    val fs = hadoopFs(epochsDir)
    var removed = 0
    epochs.foreach { e =>
      val resolvable = readEpochFile(e).exists(_.linesIterator.forall { l =>
        l.split('\t') match {
          // toLongOption, not toLong: one malformed line (torn write,
          // future format) must read as UNRESOLVABLE, not abort the
          // whole vacuum mid-truncation with a NumberFormatException
          case Array(n, g) =>
            g.toLongOption.exists(_ >= minGen.getOrElse(n, Long.MaxValue))
          case _ => false
        }
      })
      if (!resolvable) {
        if (fs.delete(new org.apache.hadoop.fs.Path(
            epochsDir, f"epoch.$e%09d"), false))
          removed += 1
      }
    }
    if (removed > 0) epochInfoCache.clear()
    removed
  }

  /**
   * Crash-consistency repair: reconcile every present derived index
   * with the store. Ingest and delete commit each tree's manifest
   * SEPARATELY, so a writer crash between commits leaves an index
   * either MISSING the batch's rows (crash after the store commit —
   * new documents silently absent from that index's searches) or
   * carrying GHOST rows of deleted chunks (crash mid copy-on-write
   * delete — searches return ids the store no longer holds). The
   * store is the source of truth — the reference's recovery contract
   * exactly (indexes re-derive from stored vectors;
   * services/background_tasks.py re-runs the per-library rebuild):
   *
   *  - missing rows (store anti-join index on chunk_id) re-derive
   *    under the index's FROZEN geometry and append incrementally —
   *    repair cost tracks the gap, never the tree;
   *  - ghosts trigger a rebuild of that index (the rare half: only a
   *    crashed delete produces them, and a rebuild from the store is
   *    the unconditionally correct recovery — victim files are
   *    already gone, so file-level COW cannot replay).
   *
   * Returns per index: (missing rows appended, ghost rows found).
   * Clean trees cost two chunk_id anti-joins each and touch nothing.
   */
  def repairIndexes(): Map[String, (Long, Long)] = withWriterLock {
    if (storeIsEmpty) return Map.empty
    // the SEARCHABLE store: pending (null-embedding) chunks are in no
    // index BY DESIGN (deferred-embedding ingest) — counting them as
    // "missing" would append null vectors into every index (null ADC
    // codes, a permanently-missing lsh report) on every repair run
    val store = searchable.persist()
    try {
      val storeIds = store.select(col("chunk_id"))
      val m = readMeta()
      val targets: Seq[(String, Boolean, () => DataFrame,
          DataFrame => Unit, () => Unit)] = Seq(
        ("lsh", hasPartitionedIndex, () => partitionedIndex,
          b => lshTree.appendCommitted(indexRows(b), indexMaxRecordsPerFile),
          () => buildPartitionedIndex()),
        ("ivf", hasIvfIndex, () => ivfTree.open(),
          b => appendOrRebuildIvf(b),
          () => buildIvfIndex(ivfCentroids)),
        ("grid", hasGridIndex, () => gridTree.open(),
          b => appendGridRows(b),
          () => buildGridIndex(m.getOrElse("grid_dims", "4").toInt,
            m.getOrElse("grid_cells_per_dim", "4").toInt)),
        ("pq", hasPqIndex, () => pqTree.open(),
          b => appendPqRows(b),
          () => buildPqIndex(m.getOrElse("pq_m", "8").toInt,
            m.getOrElse("pq_k", "16").toInt)),
        ("ivfpq", hasIvfPqIndex, () => ivfpqTree.open(),
          b => appendIvfPqRows(b),
          () => buildIvfPqIndex(m.getOrElse("ivfpq_ncentroids", "16").toInt,
            m.getOrElse("ivfpq_m", "8").toInt,
            m.getOrElse("ivfpq_k", "16").toInt)))
      val out = targets.collect { case (n, true, frame, append, rebuild) =>
        val tf = frame()
        if (!tf.columns.contains("chunk_id")) {
          // pre-chunk_id schema generation: migration = rebuild
          rebuild(); n -> (0L, -1L)
        } else {
          val ids = tf.select(col("chunk_id")).distinct()
          val ghosts = ids.join(storeIds, Seq("chunk_id"), "left_anti").count()
          val missing = store.join(ids, Seq("chunk_id"), "left_anti").persist()
          try {
            val nMissing = missing.count()
            if (ghosts > 0) rebuild()
            else if (nMissing > 0) append(missing)
            n -> (nMissing, ghosts)
          } finally missing.unpersist()
        }
      }.toMap
      invalidateIndexes()
      if (out.exists { case (_, (miss, gh)) => miss > 0 || gh != 0 }) touchMeta()
      out
    } finally store.unpersist()
  }

  /** Retained store generations, oldest first: (generation, isFull) —
    * the points [[restoreTo]] can target. */
  def storeGenerations(): Seq[(Long, Boolean)] = storeTree.generations()

  /**
   * Point-in-time RESTORE of the whole library to store generation
   * `gen` (see [[storeGenerations]]): the store rolls back with ONE
   * forward manifest commit and zero data movement
   * ([[graft.plans.ManifestedTree.rollbackTo]] — history is never
   * rewritten), then every derived index reconciles against the
   * restored store through [[repairIndexes]] — rows the restore
   * brought back re-derive under each index's frozen geometry; rows it
   * removed turn up as ghosts and trigger that index's rebuild. One
   * call undoes a bad delete or a bad ingest; without it a user had to
   * roll six trees back by hand. The reference's recovery contract is
   * the same store-is-truth shape: indexes re-derive from stored
   * vectors (services/background_tasks.py re-runs the per-library
   * rebuild on restart).
   *
   * Valid while the target generation is retained: deleted-row bytes
   * stay on disk (manifest-invisible), and by default no maintenance
   * operation can remove them — [[vacuumIndexes]] and [[compactIndexes]]'
   * inline cleanup both protect every file a retained generation
   * references, so the restore horizon is governed by GENERATION
   * retention alone ([[graft.plans.ManifestedTree.KeepFulls]] full
   * snapshots back). Only the explicit
   * `vacuumIndexes(retainNone = true)` truncates it (the Delta
   * RESTORE-vs-VACUUM contract). Returns [[repairIndexes]]' report.
   */
  def restoreTo(gen: Long): Map[String, (Long, Long)] = withWriterLock {
    storeTree.rollbackTo(gen)
    invalidateIndexes()
    touchMeta()
    repairIndexes()
  }

  // --- consistency epochs ----------------------------------------------
  // Ingest commits the store manifest, then each index manifest,
  // SEPARATELY — a head reader between those commits sees an index
  // lagging the store by the in-flight batch (the documented skew
  // contract). Epochs close that window for readers who need cross-tree
  // consistency: after the OUTERMOST mutation frame completes — every
  // tree it touched committed, the writer lease still held — the
  // per-tree generation tuple lands in `_epochs/epoch.<n>` (write+
  // rename, atomic). An epoch therefore NEVER references a half-
  // committed state: a crash mid-mutation simply leaves the previous
  // epoch as the latest. This is the library-level analog of a lake
  // format's single commit log laid over the per-tree manifests.

  private def epochsDir = s"$root/$name/_epochs"

  /** Every persisted tree, by epoch name. A `def`: the tree vals are
    * declared across the class body and this must not capture them at
    * construction order. */
  private def epochTrees: Seq[(String, graft.plans.ManifestedTree)] = Seq(
    "store" -> storeTree, "lsh" -> lshTree, "ivf" -> ivfTree,
    "grid" -> gridTree, "pq" -> pqTree, "ivfpq" -> ivfpqTree)

  /** Record the current per-tree generation tuple as a new epoch.
    * Skips when nothing is manifested yet (pre-first-commit, or the
    * library was just delete()d) and when the tuple equals the latest
    * epoch (read-only mutators like a no-op vacuum). */
  private def recordEpoch(): Unit = {
    // freshHeadGen, NOT generations(): the latter memoizes per tree
    // (r12 serving memo) and this instance's cache for a tree ANOTHER
    // instance maintains can be arbitrarily stale — a grid-building
    // writer would then record epochs missing the pq tree entirely
    // (caught by MultiWriterLadder), and the optimistic re-validation
    // loop below would be reading its own cache back. The epoch
    // assembly must always see the filesystem.
    def assemble(): Seq[String] = epochTrees.flatMap { case (n, t) =>
      val g = t.freshHeadGen()
      if (g >= 0) Some(s"$n\t$g") else None }
    val first = assemble()
    // Optimistic validation (the PLANS.md multi-writer commit step):
    // recorded WITHOUT the full lease set (a footprint-scoped frame),
    // another instance's disjoint single-tree commit can land between
    // these listings — re-read until the tuple is stable (bounded;
    // sustained churn past the bound records the final assembly, which
    // is still committed-state-per-tree: concurrent mutations are
    // footprint-disjoint by the lease rules, so no cross-tree
    // invariant links the trees they touch). Under the full lease set
    // (writerLock held) no other writer can commit — one assembly, the
    // unchanged hot path.
    val gens =
      if (writerLock.held) first
      else {
        var cur = first
        var round = 0
        var stable = false
        while (!stable && round < 5) {
          val again = assemble()
          stable = again == cur
          cur = again
          round += 1
        }
        cur
      }
    if (gens.isEmpty) {
      // deleted (or never-committed) library: a stale cache here would
      // suppress the FIRST epoch of a rebuilt library whose generation
      // numbering restarts and reproduces the cached tuple
      lastEpochCache = None
      return
    }
    val body = gens.mkString("\n")
    // the cache is authoritative while this writer holds the lease: it
    // recorded (or verified) the newest epoch, so the hot path — every
    // streaming micro-batch exits through here — skips both the no-op
    // write (identical tuple) and the directory listing (cached latest
    // number); the listing only runs cache-cold and for the periodic
    // prune below
    if (lastEpochCache.exists(_._2 == body)) return
    val fs = hadoopFs(epochsDir)
    val dir = new org.apache.hadoop.fs.Path(epochsDir)
    val latest: Option[Long] = lastEpochCache.map(_._1)
      .orElse {
        val disk = epochs.lastOption
        if (disk.exists(e => readEpochFile(e).contains(body))) {
          lastEpochCache = disk.map(e => (e, body))
          return
        }
        disk
      }
    fs.mkdirs(dir)
    // The cache is a HINT, not the authority: two writer instances
    // correctly ALTERNATING under the file lease each keep their own
    // lastEpochCache, so instance A (cache at N) can compute N+1 after
    // instance B already installed epoch N+1 — and a local-fs rename
    // onto an existing target silently OVERWRITES it (mutating an
    // epoch a reader may be pinned to), while HDFS fails the rename
    // and would fail a mutation that already committed. Install with
    // rename-if-absent semantics: probe the target, and on collision
    // (or rename failure) re-list the on-disk epochs once and retry
    // with the true successor.
    def tryInstall(n: Long): Boolean = {
      val target = new org.apache.hadoop.fs.Path(dir, f"epoch.$n%09d")
      if (fs.exists(target)) return false
      val tmp = new org.apache.hadoop.fs.Path(dir, s".epoch.$n.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, target)) true
      else { fs.delete(tmp, false); false }
    }
    // Bounded re-list-and-retry: pre-r11 a single retry sufficed (the
    // global lease meant at most one displaced writer), but concurrent
    // DISJOINT footprint writers are now legal and several can race
    // this directory at once — a fully COMMITTED mutation must not
    // read as failed because its epoch number was taken twice in a
    // row. Each round re-lists, adopts an identical tuple if another
    // instance already recorded this exact state, else tries the true
    // successor.
    var next = latest.getOrElse(0L) + 1
    var installed = tryInstall(next)
    var round = 0
    while (!installed && round < 8) {
      val disk = epochs.lastOption
      if (disk.exists(e => readEpochFile(e).contains(body))) {
        lastEpochCache = disk.map(e => (e, body))
        return
      }
      next = math.max(next + 1, disk.getOrElse(0L) + 1)
      installed = tryInstall(next)
      round += 1
    }
    if (!installed)
      throw new java.io.IOException(
        s"epoch $next install failed at $epochsDir after $round " +
        "re-lists — concurrent writers are racing this directory " +
        "faster than this holder can re-list")
    lastEpochCache = Some((next, body))
    // bounded history (epochs older than the manifest retention window
    // are unresolvable anyway); the prune's listing amortizes over 8
    // writes so the steady-state bound is EpochKeep+8
    if (next % 8 == 0) epochs.dropRight(EpochKeep).foreach { e =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, f"epoch.$e%09d"), false) }
  }
  private val EpochKeep = 32
  // (epoch number, body) of the last epoch THIS writer recorded or
  // verified — guarded by frameLock (recordEpoch only runs inside an
  // enterFrame synchronized block)
  private var lastEpochCache: Option[(Long, String)] = None

  private def readEpochFile(e: Long): Option[String] =
    try {
      val in = hadoopFs(epochsDir).open(
        new org.apache.hadoop.fs.Path(epochsDir, f"epoch.$e%09d"))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: Throwable => None }

  /** Recorded epochs, oldest first. */
  def epochs: Seq[Long] = {
    val fs = hadoopFs(epochsDir)
    val dir = new org.apache.hadoop.fs.Path(epochsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch."))
      .flatMap(n => n.stripPrefix("epoch.").toLongOption).sorted
  }

  /** The per-tree generation tuple of epoch `e`. A malformed line
    * (torn write, future format) fails with a CLEAN error naming the
    * epoch — not a raw MatchError/NumberFormatException deep inside a
    * pinned read (consistentAt/searchAt/restoreToEpoch all route
    * through here). */
  def epochInfo(e: Long): Map[String, Long] =
    epochInfoCache.getOrElseUpdate(e, epochInfoUncached(e))

  // epoch files are write-once, so a recorded tuple is immutable; the
  // cache only needs dropping when pruneUnresolvableEpochs deletes
  // records (and, conservatively, with the other resolve caches).
  // TrieMap: read concurrently with a mutating writer's clear.
  private val epochInfoCache =
    scala.collection.concurrent.TrieMap.empty[Long, Map[String, Long]]

  private def epochInfoUncached(e: Long): Map[String, Long] =
    readEpochFile(e) match {
      case Some(body) => body.linesIterator.map { l =>
        l.split('\t') match {
          case Array(n, g) if g.toLongOption.isDefined => n -> g.toLong
          case _ => throw new IllegalStateException(
            s"epoch $e at $epochsDir is malformed (line '${l.take(60)}') — " +
            "likely a torn write; pick another epoch or vacuum(retainNone)")
        }
      }.toMap
      case None => throw new IllegalArgumentException(
        s"epoch $e not recorded at $epochsDir (available: ${epochs.mkString(",")})")
    }

  /** Every tree of epoch `e` opened AT its recorded generation — a
    * cross-tree-CONSISTENT view: the store and each index are exactly
    * the committed state of one completed mutation, never the
    * in-between of two commits. Valid while the epoch's generations
    * are retained and their files not vacuumed (same horizon as
    * [[restoreTo]]). Geometry sidecars (IVF/PQ centroids, codebooks,
    * grid bounds) are generation-numbered beside each row tree
    * ([[installRebuild]]), so a pinned reader of an encoded tree
    * decodes under the geometry its codes were written with even
    * across a rebuild — [[searchAt]] is the search entry point that
    * resolves both together. Note the returned FRAMES are code rows;
    * decoding them by hand against the head geometry would reopen the
    * hole searchAt closes. */
  def consistentAt(e: Long): Map[String, DataFrame] = {
    val byName = epochTrees.toMap
    epochInfo(e).map { case (n, g) => n -> byName(n).openAt(g) }
  }

  /** The chunks store as of epoch `e`. */
  def chunksAt(e: Long): DataFrame = consistentAt(e)("store")

  /** [[restoreTo]] with an epoch as the restore point: the store rolls
    * back to the epoch's recorded store generation and every index
    * reconciles — "put the library back to the state after mutation N"
    * without the caller translating epochs to tree generations. */
  def restoreToEpoch(e: Long): Map[String, (Long, Long)] =
    restoreTo(epochInfo(e)("store"))

  /** Approximate search pinned to epoch `e`: probes the LSH index AT
    * the epoch's generation (falling back to a bucket probe over the
    * epoch's store when the index predates the epoch), so the result
    * can never straddle the store/index commit window — the
    * consistency-critical twin of [[searchApprox]]. */
  def searchApproxAt(e: Long, queryText: String, k: Int = 10,
                     metric: String = "cosine"): DataFrame = {
    val info = epochInfo(e)
    info.get("lsh") match {
      case Some(g) =>
        VectorSearch.lshKnnPartitioned(lshTree.openAt(g),
          queryFrame(queryText),
          "chunk_id", "embedding", clampK(k), metric,
          numTables, bitsPerTable, seed)
      case None =>
        VectorSearch.lshKnnIndexed(chunksAt(e), queryFrame(queryText),
          "chunk_id", "embedding", "lsh_buckets",
          clampK(k), metric, numTables, bitsPerTable, seed)
    }
  }

  /**
   * Epoch-pinned search routed through any index algorithm — the
   * fully consistent twin of [[search]]: every tree opens AT the
   * epoch's recorded generation, and the encoded algorithms (grid/
   * ivf/pq/ivfpq) decode under the GEOMETRY GENERATION serving that
   * tree generation ([[geomSuffixAt]]) — so the result for epoch `e`
   * is stable across later ingests, deletes, AND index rebuilds (the
   * r10 caveat this closes: pinned code frames used to decode against
   * the current centroids/codebooks/bounds). An algorithm whose index
   * tree predates the epoch falls back to the exact scan over the
   * epoch's store. Valid on the same retention horizon as
   * [[consistentAt]].
   */
  def searchAt(e: Long, queryText: String, k: Int = 10,
               metric: String = "cosine",
               algorithm: Option[String] = None,
               filter: Option[Column] = None): DataFrame = {
    val info = epochInfo(e)
    val kk = clampK(k)
    val q = queryFrame(queryText)
    // searchable twin of the head dispatch: pending (null-embedding)
    // rows of the pinned store are invisible here too
    def store = applyF(chunksAt(e).where(col("embedding").isNotNull), filter)
    def flatAt: DataFrame =
      VectorSearch.knnFlat(store.select(col("chunk_id"), col("embedding")),
        q, "chunk_id", "embedding", kk, metric)
    // `filter` mirrors the head dispatch's scoping contract against
    // the PINNED frames: applied scan-side (inside the pinned pruned
    // layouts when their rows carry the predicate columns, pushed to
    // the pinned store scan for flat/lsh/quantized/binary), with the
    // same exact-over-filtered-store fallback for pre-metadata
    // layouts — never post-hoc on a shortlist.
    algorithm.getOrElse(algo) match {
      case "flat" => flatAt
      case "lsh" if filter.isEmpty => searchApproxAt(e, queryText, k, metric)
      case "lsh" =>
        // the head's filtered-lsh shape over the pinned store rows
        // (bucket columns ride in the store, so no index tree needed)
        VectorSearch.lshKnnIndexed(store, q,
          "chunk_id", "embedding", "lsh_buckets",
          kk, metric, numTables, bitsPerTable, seed)
      case "quantized" =>
        VectorSearch.knnQuantizedIndexed(store, q,
          "chunk_id", "embedding", "quant", kk, metric)
      case "binary" =>
        if (store.columns.contains("bits"))
          VectorSearch.knnBinaryIndexed(store, q,
            "chunk_id", "embedding", "bits", kk, metric)
        else VectorSearch.knnBinary(
          store.select(col("chunk_id"), col("embedding")),
          q, "chunk_id", "embedding", kk, metric)
      case "grid" => info.get("grid") match {
        case Some(g) if filter.forall(covers(gridTree.openAt(g), _)) =>
          val (lo, hi, gd, cpd) = gridBoundsAt(g)
          val cells = applyF(gridTree.openAt(g), filter)
          VectorSearch.gridKnnIndexed(cells, lo, hi, q,
            "chunk_id", "embedding", kk, metric, gd, cpd,
            countsOpt = Some(VectorSearch.gridCellCounts(cells)))
        case Some(_) => flatAt // pre-metadata pinned cells: exact fallback
        case None =>
          VectorSearch.gridKnnExpanding(
            store.select(col("chunk_id"), col("embedding")),
            q, "chunk_id", "embedding", kk, metric)
      }
      case "ivf" => info.get("ivf") match {
        case Some(g) if filter.forall(covers(ivfTree.openAt(g), _)) =>
          IvfIndex.searchAssigned(applyF(ivfTree.openAt(g), filter),
            ivfCentersAt(g),
            q, "chunk_id", "embedding", kk, metric = metric)
        case _ => flatAt
      }
      case "pq" => info.get("pq") match {
        case Some(g) if filter.forall(covers(pqTree.openAt(g), _)) =>
          PqIndex.search(applyF(pqTree.openAt(g), filter), pqBooksAt(g), q,
            "chunk_id", "embedding", kk, metric, normalized = true)
        case _ => flatAt
      }
      case "ivfpq" => info.get("ivfpq") match {
        case Some(g) if filter.forall(covers(ivfpqTree.openAt(g), _)) =>
          val (centers, books) = ivfpqSideAt(g)
          IvfPq.search(
            IvfPq.Index(centers, books, applyF(ivfpqTree.openAt(g), filter)),
            q, "chunk_id", "embedding", kk, metric = metric,
            normalized = true)
        case _ => flatAt
      }
      case other => throw new IllegalArgumentException(
        s"unknown index algorithm '$other' (expected one of " +
        s"${VectorLibrary.algorithms.mkString(", ")})")
    }
  }

  /** Batch twin of [[searchAt]] — the epoch-pinned completion of the
    * "every search algorithm has a batch twin" matrix: N query texts
    * share ONE pass over the SAME pinned resolution (every tree opens
    * AT the epoch's recorded generation; encoded algorithms decode
    * under that generation's geometry sidecars), so the batch costs
    * one union-pruned scan instead of N per-query probes — and the
    * per-query results are identical to [[searchAt]], including
    * across later ingests, deletes, and index rebuilds. Rows
    * (query_id, chunk_id, score, rank), query_id = position in the
    * input list. Same filter scoping contract as [[searchAt]]. */
  def searchAtBatch(e: Long, queryTexts: Seq[String], k: Int = 10,
                    metric: String = "cosine",
                    algorithm: Option[String] = None,
                    filter: Option[Column] = None): DataFrame = {
    val info = epochInfo(e)
    val kk = clampK(k)
    val queries = queriesFrame(queryTexts)
    def store = applyF(chunksAt(e).where(col("embedding").isNotNull), filter)
    def flatAt: DataFrame =
      VectorSearch.knnBatchGeneric(
        store.select(col("chunk_id"), col("embedding")),
        queries, "chunk_id", "embedding", kk, metric)
    algorithm.getOrElse(algo) match {
      case "flat" => flatAt
      case "lsh" => info.get("lsh") match {
        case Some(g) if filter.isEmpty =>
          // pinned partitioned probe: the union of all queries' probe
          // partitions reads once (same planning-time pruning as the
          // head batch), against the epoch's index generation
          VectorSearch.lshKnnPartitionedBatch(lshTree.openAt(g), queries,
            "chunk_id", "embedding", kk, metric,
            numTables, bitsPerTable, seed)
        case _ =>
          // index predates the epoch, or a filter scopes the probe:
          // bucket-column probe over the pinned store rows
          VectorSearch.lshKnnBatchIndexed(store, queries,
            "chunk_id", "embedding", "lsh_buckets", kk, metric,
            numTables, bitsPerTable, seed)
      }
      case "quantized" =>
        VectorSearch.knnQuantizedBatch(store, queries,
          "chunk_id", "embedding", "quant", kk, metric)
      case "binary" =>
        if (store.columns.contains("bits"))
          VectorSearch.knnBinaryBatch(store, queries,
            "chunk_id", "embedding", "bits", kk, metric)
        else VectorSearch.knnBinaryBatch(
          store.select(col("chunk_id"), col("embedding"))
            .withColumn("bits", bitPack(col("embedding"))),
          queries, "chunk_id", "embedding", "bits", kk, metric)
      case "grid" => info.get("grid") match {
        case Some(g) if filter.forall(covers(gridTree.openAt(g), _)) =>
          val (lo, hi, gd, cpd) = gridBoundsAt(g)
          val cells = applyF(gridTree.openAt(g), filter)
          VectorSearch.gridKnnIndexedBatch(cells, lo, hi, queries,
            "chunk_id", "embedding", kk, metric, gd, cpd,
            countsOpt = Some(VectorSearch.gridCellCounts(cells)))
        case Some(_) => flatAt // pre-metadata pinned cells: exact fallback
        case None =>
          VectorSearch.gridKnnExpandingBatch(
            store.select(col("chunk_id"), col("embedding")),
            queries, "chunk_id", "embedding", kk, metric)
      }
      case "ivf" => info.get("ivf") match {
        case Some(g) if filter.forall(covers(ivfTree.openAt(g), _)) =>
          IvfIndex.searchAssignedBatch(applyF(ivfTree.openAt(g), filter),
            ivfCentersAt(g), queries, "chunk_id", "embedding", kk,
            metric = metric)
        case _ => flatAt
      }
      case "pq" => info.get("pq") match {
        case Some(g) if filter.forall(covers(pqTree.openAt(g), _)) =>
          PqIndex.searchBatch(applyF(pqTree.openAt(g), filter),
            pqBooksAt(g), queries, "chunk_id", "embedding", kk, metric,
            normalized = true)
        case _ => flatAt
      }
      case "ivfpq" => info.get("ivfpq") match {
        case Some(g) if filter.forall(covers(ivfpqTree.openAt(g), _)) =>
          val (centers, books) = ivfpqSideAt(g)
          IvfPq.searchBatch(
            IvfPq.Index(centers, books, applyF(ivfpqTree.openAt(g), filter)),
            queries, "chunk_id", "embedding", kk, metric = metric,
            normalized = true)
        case _ => flatAt
      }
      case other => throw new IllegalArgumentException(
        s"unknown index algorithm '$other' (expected one of " +
        s"${VectorLibrary.algorithms.mkString(", ")})")
    }
  }

  /**
   * Copy-on-write removal of the victim chunks from the store AND
   * every derived index, at FILE granularity (the Delta/Iceberg
   * shape): only the parquet files actually CONTAINING a victim row
   * rewrite; every other file — including the rest of the files in an
   * affected partition directory — never moves at all. Store files
   * are clustered by (source, doc_id) at write, so a targeted
   * delete's victim file set stays a handful of files no matter how
   * large the library grows; a mass delete degrades gracefully toward
   * a full rewrite as the victim file set approaches every file.
   *
   * Every survivor rewrite lands in a tmp tree BEFORE any live
   * directory is touched (the reads all see intact live data; a crash
   * in phase 1 changes nothing); phase 2 is purely ADDITIVE on a
   * manifested tree — fresh files rename in beside the untouched
   * originals and the manifest commitSwap flips visibility, so a
   * concurrent reader mid-plan on the previous generation (or pinned
   * to an epoch) never sees a path vanish (see [[cowTree]]). Returns
   * the number of chunks removed.
   */
  private def deleteVictims(victims0: DataFrame): Long = {
    // dev probe (StressCow): per-step wall times on stderr
    val debugTiming = spark.conf.get("spark.graft.debug.timing", "false") == "true"
    def step[A](name: String)(body: => A): A =
      if (!debugTiming) body
      else {
        val t = System.nanoTime(); val r = body
        System.err.println(f"[cow-step] $name: ${(System.nanoTime() - t) / 1e9}%.2fs")
        r
      }
    val victims = victims0
      .select(col("chunk_id"), col("source"), col("lsh_buckets"), col("embedding"))
      .persist()
    try {
      val nVictims = step("count-victims")(victims.count())
      if (nVictims == 0L) return 0L
      // COW swap commits advance the geometry trees' generations —
      // sweep crash-orphan sidecars so no commit lands on one
      geomBases.foreach { case (t, _) => sweepOrphanGeom(t) }
      // Targeted deletes have a tiny id set: ship it as a broadcast
      // LOCAL relation so the file-resolution and rewrite joins stay
      // map-side (joining against the persisted distributed frame
      // measured ~2x the whole delete — each join planned a shuffle of
      // the large side). Mass deletes keep the distributed frame and
      // degrade to ordinary shuffle joins, which at that size is the
      // right plan anyway.
      val victimIds =
        if (nVictims <= 100000) {
          import spark.implicits._
          broadcast(victims.select(col("chunk_id"))
            .collect().map(_.getString(0)).toSeq.toDF("chunk_id"))
        } else victims.select(col("chunk_id"))

      /** Distinct parquet files of a stored frame holding victim rows
        * (an id + file-metadata column scan — row-group pruned). */
      def victimFilesOf(df: DataFrame): Seq[String] =
        df.select(col("chunk_id"), col("_metadata.file_path").as("f"))
          .join(victimIds, Seq("chunk_id"), "left_semi")
          .select(col("f")).distinct().collect().map(_.getString(0)).toSeq

      /** (manifest-LIVE files, directories that actually hold any) of
        * a tree under the given absolute partition directories — the
        * resolution scan's input and its audit record. NEVER
        * the directory listing: live dirs also hold manifest-DEAD
        * bytes at their original paths (COW victims retained for the
        * restore/epoch horizon, fragments a compaction displaced,
        * rebuild-replaced generations, crash orphans), and a listing
        * scan would find victim ids in those dead files too — the
        * rewrite would then resurrect previously deleted rows and
        * duplicate survivors into the fresh commit. A pre-manifest
        * tree has no dead-byte concept; its listing IS the live set. */
      def liveUnder(tree: graft.plans.ManifestedTree,
                    dirs: Seq[String]): (Seq[String], Seq[String]) = {
        val treeRoot = tree.root.stripSuffix("/")
        tree.readManifest() match {
          case Some(entries) =>
            // the manifest answers BOTH questions — no per-directory
            // fs.exists round-trips (hundreds of HEADs on an object
            // store for a delete fanning out over LSH buckets)
            val prefixed = dirs.map(d =>
              (d, d.stripSuffix("/").stripPrefix(treeRoot + "/") + "/"))
            // one pass over the entries yields both the matched files
            // and which candidate dirs hold any
            val matched = scala.collection.mutable.LinkedHashSet.empty[String]
            val files = entries.flatMap { case (rel, _) =>
              prefixed.find(t => rel.startsWith(t._2)).map { case (d, _) =>
                matched += d
                s"$treeRoot/$rel"
              }
            }
            (files, dirs.filter(matched))
          case None =>
            val fs = hadoopFs(treeRoot)
            val present = dirs.filter(d =>
              fs.exists(new org.apache.hadoop.fs.Path(d)))
            (present, present)
        }
      }

      /** victimFilesOf over ONLY the given partition directories of a
        * tree — for indexes whose victim DIRECTORIES are derivable
        * from the victims themselves, the id scan prunes to those
        * directories and the result is the exact file set holding
        * victim rows. The two-level resolution matters because
        * directories are NOT small: LSH buckets and grid cells are
        * skewed by construction (near-duplicate corpora pile identical
        * signatures into few buckets), so "rewrite the victim dirs"
        * can degenerate to rewriting a fifth of the index, while the
        * victim FILES stay bounded by indexMaxRecordsPerFile each. */
      val audit = new scala.collection.concurrent.TrieMap[String, Seq[String]]()
      def victimFilesUnder(label: String, tree: graft.plans.ManifestedTree,
                           dirs: Seq[String]): Seq[String] = {
        val (live, present) = liveUnder(tree, dirs)
        audit.put(label, present)
        if (live.isEmpty) Seq.empty
        else victimFilesOf(
          spark.read.option("basePath", tree.root.stripSuffix("/"))
            .parquet(live: _*))
      }

      /** Pruned resolution for the cluster-partitioned trees (IVF /
        * IVF-PQ): `withCluster` re-derives each victim's cell map-side
        * (the same exact-fold argmin appends place rows by), so the id
        * + file-metadata scan opens ONLY the victim cluster
        * directories — never the whole tree. One combined job returns
        * the victim files AND how many victims they cover; a shortfall
        * (possible for plain IVF, whose BUILD-time placement is
        * MLlib's norm-optimized distance and can flip an FP near-tie
        * against the exact argmin) falls back loudly to the full-tree
        * scan, so pruning is an optimization, never a correctness
        * trade. */
      def victimFilesByCluster(label: String, tree: graft.plans.ManifestedTree,
                               withCluster: DataFrame): Seq[String] = {
        val treeRoot = tree.root.stripSuffix("/")
        val dirs = withCluster.select(col("cluster")).distinct().collect()
          .filter(!_.isNullAt(0))
          .map(r => s"$treeRoot/cluster=${r.getInt(0)}").toSeq
        val (live, present) = liveUnder(tree, dirs)
        val (files, covered) =
          if (live.isEmpty) (Seq.empty[String], 0L)
          else {
            val row = spark.read.option("basePath", treeRoot).parquet(live: _*)
              .select(col("chunk_id"), col("_metadata.file_path").as("f"))
              .join(victimIds, Seq("chunk_id"), "left_semi")
              .agg(collect_set(col("f")).as("files"),
                countDistinct(col("chunk_id")).as("n"))
              .head
            (row.getSeq[String](0).toSeq, row.getLong(1))
          }
        if (covered == nVictims) { audit.put(label, present); files }
        else {
          System.err.println(s"[cow] $label: pruned resolution covered " +
            s"$covered/$nVictims victims — falling back to full-tree scan")
          audit.put(label, Seq(treeRoot))
          // full-tree fallback stays manifest-planned for the same
          // dead-byte reason as the pruned path
          victimFilesOf(tree.open())
        }
      }
      def escape(v: String): String =
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

      // Resolve every victim file up front, while live data is intact.
      // Every resolution is a pruned id + file-metadata scan: the
      // store prunes to the victims' source= partitions, the LSH scan
      // to the (tbl, bucket) dirs from the victims' stored signatures,
      // the grid scan to their cells under the stored frozen bounds,
      // and the IVF / IVF-PQ scans to the victims' re-derived cluster
      // directories (coverage-checked, full-tree fallback). The
      // resolutions are independent read-only jobs over the persisted
      // victim frame — they run concurrently (as do the rewrites
      // below): a targeted delete's latency is a handful of SMALL
      // jobs, so the serial job-launch overhead would dominate the
      // actual I/O.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      def awaitAll[A](fs: Seq[Future[A]]): Seq[A] =
        fs.map(Await.result(_, Duration.Inf))
      val storeFilesF = Future(step("resolve-store-files") {
        victimFilesUnder("store", storeTree, victims.select(col("source")).distinct()
          .collect().map(r => s"$path/source=${escape(r.getString(0))}").toSeq)
      })
      val lshFilesF = Future(step("resolve-lsh-files") {
        if (hasPartitionedIndex)
          victimFilesUnder("lsh", lshTree, victims
            .select(posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
            .distinct().collect()
            .map(r => s"$indexPath/tbl=${r.getInt(0)}/bucket=${r.getInt(1)}").toSeq)
        else Seq.empty[String]
      })
      val ivfFilesF = Future(step("resolve-ivf-files") {
        // victim cells re-derive map-side against the stored centroids
        // (what appendAssign placed rows by); build-time MLlib
        // placement agrees except on FP near-ties, which the coverage
        // fallback absorbs
        if (hasIvfIndex)
          // pending (null-embedding) victims are in NO index — they
          // cannot be assigned to a cell and have no files to resolve
          victimFilesByCluster("ivf", ivfTree,
            IvfIndex.assignExact(victims.where(col("embedding").isNotNull),
              "embedding", ivfCentersStored()))
        else Seq.empty[String]
      })
      val gridFilesF = Future(step("resolve-grid-files") {
        if (hasGridIndex) {
          val (lo, hi, _, cpd) = gridBoundsStored()
          victimFilesUnder("grid", gridTree, victims
            .select(VectorSearch.cellKeyCol(col("embedding"), lo, hi, cpd).as("cell"))
            .distinct().collect().filter(!_.isNullAt(0))
            .map(r => s"$gridPath/cells/cell=${escape(r.getString(0))}").toSeq)
        } else Seq.empty[String]
      })
      val pqFilesF = Future(step("resolve-pq-files") {
        if (hasPqIndex)
          victimFilesUnder("pq", pqTree, victims.select(col("source")).distinct()
            .collect().map(r => s"$pqPath/codes/source=${escape(r.getString(0))}").toSeq)
        else Seq.empty[String]
      })
      val ivfpqFilesF = Future(step("resolve-ivfpq-files") {
        // exact replay of the build/append geometry: assignExact over
        // the L2-normalized vectors against the stored coarse
        // centroids IS how every encoded row was placed, so the
        // pruned dirs are the victim cells bit-for-bit
        if (hasIvfPqIndex)
          victimFilesByCluster("ivfpq", ivfpqTree,
            IvfIndex.assignExact(
              victims.where(col("embedding").isNotNull)
                .withColumn("__nvec", l2Normalize(col("embedding"))),
              "__nvec", ivfpqSideStored()._1))
        else Seq.empty[String]
      })
      val Seq(storeFiles, lshFiles, ivfFiles, gridFiles, pqFiles, ivfpqFiles) =
        awaitAll(Seq(storeFilesF, lshFilesF, ivfFilesF, gridFilesF, pqFilesF,
          ivfpqFilesF))

      // Phase 1: rewrite ONLY the victim files' survivors into
      // partition-mirrored tmp trees. basePath keeps the partition
      // columns riding along, so the tmp tree reproduces exactly the
      // directories the survivors came from.
      // No repartition before the write: each victim file is pure to
      // ONE partition directory, so map tasks already hold
      // partition-aligned rows and the dynamic-partition writer emits
      // them directly — a shuffle here measured 9x the whole rewrite.
      // The scan is forced to ONE TASK PER FILE: the cost of this job
      // is parquet reader/writer setup (~100ms per tiny file, measured
      // via the step probe), and Spark's default bin-packing lumps all
      // the small victim files into a couple of tasks, serializing
      // those setups; per-file tasks spread them across the cluster.
      def rewrite(treeRoot: String, files: Seq[String], tmp: String,
                  partCols: Seq[String], sorted: Boolean = false): Unit = {
        hadoopFs(tmp).delete(new org.apache.hadoop.fs.Path(tmp), true)
        val survivors = spark.read.option("basePath", treeRoot)
          .parquet(files: _*)
          .join(victimIds, Seq("chunk_id"), "left_anti")
        // Preserve each tree's clustering invariant on the survivors
        // (store: (source, doc_id); indexes: partition cols +
        // chunk_id) and the bounded file sizes — later deletes rely
        // on both to keep their victim file sets small.
        val clustered =
          if (sorted) survivors.sortWithinPartitions(col("source"), col("doc_id"))
          else survivors.sortWithinPartitions(
            (partCols :+ "chunk_id").map(col): _*)
        clustered.write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", indexMaxRecordsPerFile)
          .partitionBy(partCols: _*).parquet(tmp)
      }
      val storeTmp = s"$root/$name/.chunks_cow"
      val idxTmp = s"$root/$name/.lsh_index_cow"
      val ivfTmp = s"$root/$name/.ivf_index_cow"
      val gridTmp = s"$root/$name/.grid_index_cow"
      val pqTmp = s"$root/$name/.pq_index_cow"
      val ivfpqTmp = s"$root/$name/.ivfpq_index_cow"
      // The scans are forced to small splits: the cost of these jobs
      // is parquet reader/writer setup over few bounded files, and the
      // default bin-packing would lump them into one or two tasks,
      // serializing those setups.
      // SESSION-GLOBAL conf save/restore: safe only because mutations
      // are single-writer (withWriterLock serializes them per library,
      // and Verify's concurrent query pool runs read-only queries —
      // noted there). A concurrent READER in this session during the
      // rewrite window would momentarily plan 4 MiB splits: benign for
      // correctness, mild over-parallelism at worst.
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      try {
        awaitAll(Seq(
          Future(step(s"rewrite-store (${storeFiles.size} files)")(
            rewrite(path, storeFiles, storeTmp, Seq("source"), sorted = true))),
          Future(if (lshFiles.nonEmpty)
            step(s"rewrite-lsh (${lshFiles.size} files)")(
              rewrite(indexPath, lshFiles, idxTmp, Seq("tbl", "bucket")))),
          Future(if (ivfFiles.nonEmpty)
            step(s"rewrite-ivf (${ivfFiles.size} files)")(
              rewrite(s"$ivfPath/assigned", ivfFiles, ivfTmp, Seq("cluster")))),
          Future(if (gridFiles.nonEmpty)
            step(s"rewrite-grid (${gridFiles.size} files)")(
              rewrite(s"$gridPath/cells", gridFiles, gridTmp, Seq("cell")))),
          Future(if (pqFiles.nonEmpty)
            step(s"rewrite-pq (${pqFiles.size} files)")(
              rewrite(s"$pqPath/codes", pqFiles, pqTmp, Seq("source")))),
          Future(if (ivfpqFiles.nonEmpty)
            step(s"rewrite-ivfpq (${ivfpqFiles.size} files)")(
              rewrite(s"$ivfpqPath/encoded", ivfpqFiles, ivfpqTmp, Seq("cluster"))))))
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)

      // Phase 2: per-directory file swaps (store first — it is the
      // source of truth the indexes re-derive from on any recovery).
      // Each swap commits through its tree's manifest: the rewrite's
      // replacement files are captured from the tmp tree BEFORE
      // cowTree consumes it, so the commit references exactly those
      // plus the untouched survivors — neither a crashed writer's
      // orphans nor the victims can be adopted.
      def swapCommitted(label: String, tree: graft.plans.ManifestedTree,
                        tmp: String, victimFiles: Seq[String]): Unit =
        step(label) {
          val freshRel = graft.plans.ManifestedTree.listTree(spark, tmp, None)
          cowTree(tree.root, tmp, victimFiles, retainVictims =
            graft.plans.ManifestedTree.manifestExists(spark, tree.root))
          tree.commitSwap(victimFiles, freshRel)
        }
      swapCommitted("swap-store", storeTree, storeTmp, storeFiles)
      if (lshFiles.nonEmpty) step("swap-lsh") {
        val freshRel = graft.plans.ManifestedTree.listTree(spark, idxTmp, None)
        cowTree(indexPath, idxTmp, lshFiles, retainVictims =
          graft.plans.ManifestedTree.manifestExists(spark, indexPath))
        pruneEmptyParents(indexPath)
        lshTree.commitSwap(lshFiles, freshRel)
      }
      if (ivfFiles.nonEmpty) swapCommitted("swap-ivf", ivfTree, ivfTmp, ivfFiles)
      if (gridFiles.nonEmpty) swapCommitted("swap-grid", gridTree, gridTmp, gridFiles)
      if (pqFiles.nonEmpty) swapCommitted("swap-pq", pqTree, pqTmp, pqFiles)
      if (ivfpqFiles.nonEmpty)
        swapCommitted("swap-ivfpq", ivfpqTree, ivfpqTmp, ivfpqFiles)
      lastDeleteAudit = audit.toMap
      nVictims
    } finally {
      victims.unpersist()
      invalidateIndexes()
      touchMeta()
    }
  }

  /** File-level install of a delete's rewrite output.
    *
    * With `retainVictims` (every MANIFESTED tree) NOTHING in the live
    * directory moves: the rewritten survivors rename in from the
    * mirrored tmp tree under their fresh UUID part-names (no clashes),
    * while victims AND untouched survivors stay at their original
    * paths — the commitSwap that follows drops the victims from the
    * manifest, so they are invisible to every new reader, but their
    * bytes remain until [[graft.plans.ManifestedTree.vacuum]]. This is
    * the Delta/Iceberg DELETE shape, and it is what makes CONCURRENT
    * readers safe with zero coordination: a head reader that already
    * planned the pre-delete generation, or an epoch-pinned reader, is
    * mid-flight on exactly those original paths — the first cut of
    * this install moved the whole directory aside and renamed files
    * back one by one, and EpochLadder's pinned reader caught the
    * transient FILE_NOT_EXIST window that opens. A crash before the
    * commit leaves only invisible fresh-file orphans (vacuum food),
    * never a half-moved directory.
    *
    * A PRE-MANIFEST tree must NOT retain victims (its commit path
    * re-lists the directory as the source of truth and would re-adopt
    * the deleted rows), so there the directory moves aside, survivors
    * rename back, and the aside drops — the crash-recoverable form for
    * a tree that has no manifest to make orphans invisible. Such trees
    * have no manifest readers, so no pinned-read guarantee is broken.
    * A directory left with no visible files is deleted — its partition
    * is now empty. */
  private def cowTree(treeRoot: String, tmpRoot: String,
                      victimFiles: Seq[String],
                      retainVictims: Boolean): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(treeRoot)
    val rootStr = {
      val s = fs.makeQualified(new Path(treeRoot)).toUri.getPath
      if (s.endsWith("/")) s else s + "/"
    }
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    victimFiles.map(new Path(_)).groupBy(_.getParent).foreach {
      case (liveDir, files) =>
        val victimNames = files.map(_.getName).toSet
        val dirStr = fs.makeQualified(liveDir).toUri.getPath
        require(dirStr.startsWith(rootStr),
          s"victim file directory $dirStr outside $rootStr")
        val fresh = new Path(s"$tmpRoot/${dirStr.stripPrefix(rootStr)}")
        if (retainVictims) {
          // manifested tree: additive install only — no live path ever
          // vanishes, so concurrent readers never race a rename
          if (fs.exists(fresh))
            fs.listStatus(fresh).foreach { st =>
              val n = st.getPath.getName
              if (visible(n) && !fs.rename(st.getPath, new Path(liveDir, n)))
                throw new java.io.IOException(s"cow: cannot install $liveDir/$n")
            }
        } else {
          val aside = new Path(liveDir.getParent, s".${liveDir.getName}.cowold")
          fs.delete(aside, true)
          if (!fs.rename(liveDir, aside))
            throw new java.io.IOException(s"cow: cannot move $liveDir aside")
          fs.mkdirs(liveDir)
          fs.listStatus(aside).foreach { st =>
            val n = st.getPath.getName
            if (visible(n) && !victimNames.contains(n))
              fs.rename(st.getPath, new Path(liveDir, n))
          }
          if (fs.exists(fresh))
            fs.listStatus(fresh).foreach { st =>
              val n = st.getPath.getName
              if (visible(n)) fs.rename(st.getPath, new Path(liveDir, n))
            }
          fs.delete(aside, true)
          if (!fs.listStatus(liveDir).exists(st => visible(st.getPath.getName)))
            fs.delete(liveDir, true)
        }
    }
    fs.delete(new Path(tmpRoot), true)
  }

  /** Remove depth-1 subdirectories left with no visible children (the
    * tbl= parents of a fully-emptied LSH table — an empty subtree
    * would read as "index present" with nothing to infer a schema
    * from). */
  private def pruneEmptyParents(treeRoot: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(treeRoot)
    val rp = new Path(treeRoot)
    if (!fs.exists(rp)) return
    fs.listStatus(rp).foreach { st =>
      if (st.isDirectory) {
        val n = st.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_") &&
          !fs.listStatus(st.getPath).exists { c =>
            val cn = c.getPath.getName; !cn.startsWith(".") && !cn.startsWith("_") })
          fs.delete(st.getPath, true)
      }
    }
  }

  // --- persisted grid index -------------------------------------------
  // The on-disk analog of the reference keeping its FITTED grid inside
  // the index object (algorithms.py:443-686: per-dim min/max + cell
  // assignment live with the index, not re-derived per query): bounds
  // as a tiny parquet, rows under a cell partition column. A probe
  // resolves its cells driver-side from the stored bounds and reads
  // only those directories; no per-query corpus aggregate. Appends
  // assign against the FROZEN bounds (clamped, exactly like any
  // out-of-range vector), so ingest never refits.
  private val gridPath = s"$root/$name/grid_index"
  private val gridTree = strTree(s"$gridPath/cells", "cell")

  /** True when the persisted grid index has been built and holds data. */
  def hasGridIndex: Boolean = hasVisibleData(s"$gridPath/cells")

  /** (lo, hi, gridDims, cellsPerDim) of the stored fitted grid,
    * cached per store generation. */
  private def gridBoundsStored(): (Array[Double], Array[Double], Int, Int) =
    gridMetaCache.getOrElse {
      val meta = gridBoundsAt(headGenOf(gridTree))
      gridMetaCache = Some(meta)
      meta
    }

  /** Fitted grid geometry serving tree generation `gen`, loaded once
    * per resolved sidecar ([[geomLoad]]). A legacy plain sidecar
    * predates the cells_per_dim column and falls back to the meta
    * file. */
  private def gridBoundsAt(gen: Long): (Array[Double], Array[Double], Int, Int) =
    geomLoad(s"$gridPath/bounds", gen) { path =>
      val rows = spark.read.parquet(path).collect().sortBy(_.getInt(0))
      val cpd =
        if (rows.nonEmpty && rows.head.schema.fieldNames.contains("cells_per_dim"))
          rows.head.getAs[Int]("cells_per_dim")
        else readMeta().getOrElse("grid_cells_per_dim", "4").toInt
      (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)), rows.length, cpd)
    }

  /** Per-cell occupancy of the grid index, cached per store generation. */
  private def gridCounts(): Seq[(String, Long)] = gridCountsCache.getOrElse {
    val c = VectorSearch.gridCellCounts(gridTree.open())
    gridCountsCache = Some(c)
    c
  }

  /** Build (or rebuild) the persisted grid index: one bounds aggregate
    * over the store, one cell-clustered write. Search under algorithm
    * "grid" then probes the cell directories instead of scanning the
    * store and re-deriving bounds per query. */
  def buildGridIndex(gridDims: Int = 4, cellsPerDim: Int = 4): Unit = withTreeLocks(Seq("grid")) {
    require(!storeIsEmpty, s"library $name is empty — nothing to fit a grid to")
    import spark.implicits._
    val storeSnapGen = storeTree.snapshotGen() // before the bounds fit plans
    val (lo, hi) = VectorSearch.gridBounds(searchable, "embedding", gridDims)
    installRebuild(gridTree, healAppend = Some(appendGridRows),
      storeSnapGen = storeSnapGen) { (tmp, gen) =>
      // ROWS FIRST: the Overwrite write nukes the whole tmp dir,
      // including anything staged under it. Then the geometry sidecar
      // (cells_per_dim rides IN it so an epoch-pinned read decodes
      // under its own geometry without consulting the unversioned
      // meta file), STAGED under the tmp tree: installRebuild renames
      // it beside gridPath right before the manifest commit, so a
      // crashed row job leaves no orphan sidecar for a later commit
      // to adopt.
      gridRows(searchable, lo, hi, cellsPerDim)
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", indexMaxRecordsPerFile)
        .partitionBy("cell").parquet(tmp)
      lo.indices.map(d => (d, lo(d), hi(d), cellsPerDim))
        .toDF("d", "lo", "hi", "cells_per_dim")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$tmp/${VectorLibrary.GeomStageDir}/bounds${geomSuffix(gen)}")
    }
    gridMetaCache = None
    gridCountsCache = None
    touchMeta("grid_dims" -> gridDims.toString,
      "grid_cells_per_dim" -> cellsPerDim.toString)
  }

  /** Drop the persisted grid index (search falls back to the ad-hoc
    * expanding probe over the store). */
  def dropGridIndex(): Unit = withTreeLocks(Seq("grid")) {
    hadoopFs(gridPath).delete(new org.apache.hadoop.fs.Path(gridPath), true)
    gridTree.invalidate()
    dropResolveCaches()
    gridMetaCache = None
    gridCountsCache = None
  }

  /** Cell-keyed (chunk_id, embedding, cell) rows of a batch under the
    * given bounds, clustered per cell directory and sorted by chunk_id
    * within it (same rationale as [[indexRows]]: with bounded file
    * sizes, one document's rows land in few files of even a dense
    * cell, so a targeted delete rewrites files, not the cell). */
  private def gridRows(batch: DataFrame, lo: Array[Double], hi: Array[Double],
                       cellsPerDim: Int): DataFrame =
    // Metadata columns ride in the cell rows (same contract as the IVF
    // assigned rows) so a filtered search can resolve its radius from
    // the FILTERED occupancy and apply the predicate inside the
    // cell-pruned scan instead of falling back to a corpus-scale
    // expanding probe over the store.
    batch.select(col("chunk_id"), col("embedding"),
      col("doc_id"), col("source"), col("n_tokens"),
      VectorSearch.cellKeyCol(col("embedding"), lo, hi, cellsPerDim).as("cell"))
      .repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("chunk_id"))

  /** Append a batch to the grid index under the frozen fitted bounds. */
  private def appendGridRows(batch: DataFrame): Unit = {
    sweepOrphanGeom(gridTree)
    val (lo, hi, _, cellsPerDim) = gridBoundsStored()
    gridTree.appendCommitted(gridRows(batch, lo, hi, cellsPerDim),
      indexMaxRecordsPerFile)
  }

  // --- on-disk IVF index ---------------------------------------------
  // Cluster-partitioned assignment + tiny centroid table (the serving
  // layout IvfIndex.writeIndex documents). Unlike the in-memory cached
  // build, this survives the session: a new cluster reopening the
  // library probes it with zero build cost.
  private val ivfPath = s"$root/$name/ivf_index"
  private val ivfTree = intTree(s"$ivfPath/assigned", "cluster")

  /** True when the on-disk IVF index has been built. */
  def hasIvfIndex: Boolean = hasGeom(s"$ivfPath/centroids", ivfTree)

  /** Build (or rebuild) the on-disk IVF index: one distributed k-means
    * fit + a cluster-partitioned write. `search` under algorithm "ivf"
    * then probes nProbe directories instead of scanning the store. */
  def buildIvfIndex(nCentroids: Int = 16): Unit = withTreeLocks(Seq("ivf")) {
    // Metadata columns ride in the assigned rows so a filtered search
    // can apply its predicate inside the cluster-pruned scan.
    val storeSnapGen = storeTree.snapshotGen() // before the k-means fit plans
    val (model, assigned) = IvfIndex.build(
      searchable.select(col("chunk_id"), col("embedding"),
        col("doc_id"), col("source"), col("n_tokens")), "embedding", nCentroids)
    installRebuild(ivfTree, healAppend = Some(appendOrRebuildIvf),
      storeSnapGen = storeSnapGen) { (tmp, gen) =>
      IvfIndex.writeIndex(assigned, model, ivfPath, assignedPath = Some(tmp),
        sidecarSuffix = geomSuffix(gen),
        sidecarDir = Some(s"$tmp/${VectorLibrary.GeomStageDir}"))
    }
    // Persist the centroid count: store rewrites and drift refits must
    // rebuild at the SAME granularity, not a hardcoded default.
    touchMeta("ivf_centroids" -> nCentroids.toString)
  }

  /** The centroid count this library's IVF index was built with. */
  private def ivfCentroids: Int =
    readMeta().get("ivf_centroids").map(_.toInt).getOrElse(16)

  /** The stored IVF centroid table (tiny single-file parquet, read per
    * probe — the same cost the path-based probe paid). */
  private def ivfCentersStored(): Seq[(Int, Array[Double])] =
    ivfCentersAt(headGenOf(ivfTree))

  /** IVF centroids serving tree generation `gen`, loaded once per
    * resolved sidecar ([[geomLoad]]). Sorted by cluster id —
    * assignExact's lowest-cluster tie-break must see a deterministic
    * order regardless of parquet row order. */
  private def ivfCentersAt(gen: Long): Seq[(Int, Array[Double])] =
    geomLoad(s"$ivfPath/centroids", gen) { path =>
      spark.read.parquet(path).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toSeq
        .sortBy(_._1)
    }

  /** Append a batch to the IVF index — unless the existing assigned
    * rows predate the metadata columns, in which case rebuild from the
    * (already appended) store instead. Same schema-migration contract
    * as the partitioned index's `quant`/`source` guard in
    * [[appendBatch]]: a mixed-generation append would read pre-upgrade
    * rows with null metadata, and a filtered search would then
    * silently drop every old row inside the cluster-pruned scan. */
  private def appendOrRebuildIvf(b: DataFrame): Unit = {
    sweepOrphanGeom(ivfTree)
    val assignedCurrent =
      scala.util.Try(ivfTree.open().columns).toOption
        .exists(cs => Seq("doc_id", "source", "n_tokens").forall(cs.contains))
    if (assignedCurrent)
      ivfTree.appendCommitted(
        IvfIndex.assignExact(
          b.select(col("chunk_id"), col("embedding"),
            col("doc_id"), col("source"), col("n_tokens")),
          "embedding", ivfCentersStored()),
        IvfIndex.maxRecordsPerFile)
    else buildIvfIndex(ivfCentroids)
  }

  /** Drop the on-disk IVF index (search falls back to the lazy
    * in-memory build). */
  def dropIvfIndex(): Unit = withTreeLocks(Seq("ivf")) {
    hadoopFs(ivfPath).delete(new org.apache.hadoop.fs.Path(ivfPath), true)
    ivfTree.invalidate()
    dropResolveCaches()
  }

  /** Current IVF drift ratio (1.0 = as healthy as at build). */
  def ivfDrift: Double =
    IvfIndex.assignmentDrift(spark, ivfPath, assignedOpt = Some(ivfTree.open()),
      sidecarSuffix = geomSuffixAt(s"$ivfPath/centroids", headGenOf(ivfTree)))

  /**
   * Re-fit the IVF centroids when appended data has drifted away from
   * the frozen ones (the reference's background reindex trigger,
   * adapted: appends assign cheaply to existing centroids; once the
   * mean assignment distance exceeds `threshold` x the build-time
   * mean, one distributed re-fit restores probe selectivity). Returns
   * true when a re-fit ran.
   */
  def refitIvfIfDrifted(threshold: Double = 1.5): Boolean = withTreeLocks(Seq("ivf")) {
    if (!hasIvfIndex) return false
    if (ivfDrift <= threshold) return false
    buildIvfIndex(ivfCentroids)
    true
  }

  // --- persisted PQ index ---------------------------------------------
  // Product-quantization serving layout: tiny codebook parquet + codes
  // rows partitioned by source (mirroring the store, so deletes prune
  // the same directories). Codes are built over L2-NORMALIZED vectors
  // so the ADC shortlist tracks cosine — the same normalize-then-
  // compress contract as the int8 `quant` column; phase 2 re-ranks
  // exactly on the raw floats. Appends encode against the FROZEN
  // codebooks (ingest never refits), the same contract as the grid's
  // frozen bounds and the IVF centroids.
  private val pqPath = s"$root/$name/pq_index"
  private val pqTree = strTree(s"$pqPath/codes", "source")

  /** True when the persisted PQ index has been built and holds data. */
  def hasPqIndex: Boolean = hasVisibleData(s"$pqPath/codes")

  /** Stored codebooks, cached per store generation (tiny parquet). */
  private def pqBooksStored(): PqIndex.Codebooks = pqBooksCache.getOrElse {
    val books = pqBooksAt(headGenOf(pqTree))
    pqBooksCache = Some(books)
    books
  }

  /** PQ codebooks serving tree generation `gen`, loaded once per
    * resolved sidecar ([[geomLoad]]). */
  private def pqBooksAt(gen: Long): PqIndex.Codebooks =
    geomLoad(s"$pqPath/books", gen) { path =>
      spark.read.parquet(path).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (s, ws) =>
          (s, ws.sortBy(_._2).map(w => (w._2, w._3)).toSeq) }
    }

  /** Normalized-vector projection of a chunk batch for PQ encoding.
    * Carries the filterable metadata so codes-resident phase-1 scans
    * can apply a metadata predicate before the ADC shortlist. */
  private def pqBase(batch: DataFrame): DataFrame =
    batch.select(col("chunk_id"), col("source"), col("doc_id"),
      col("n_tokens"), col("embedding"),
      l2Normalize(col("embedding")).as("__nvec"))

  /** Encoded code rows of a batch, clustered per source directory. */
  private def pqCodeRows(base: DataFrame, books: PqIndex.Codebooks): DataFrame =
    PqIndex.encodeExact(base, "__nvec", books).drop("__nvec")
      .sortWithinPartitions(col("source"), col("chunk_id"))

  /** Build (or rebuild) the persisted PQ index: m tiny subspace
    * k-means fits + one encoded write. Search under algorithm "pq"
    * then scans 8-byte codes instead of float vectors for phase 1. */
  def buildPqIndex(m: Int = 8, kk: Int = 16): Unit = withTreeLocks(Seq("pq")) {
    require(!storeIsEmpty, s"library $name is empty — nothing to fit codebooks to")
    val storeSnapGen = storeTree.snapshotGen() // before the codebook fit plans
    val base = pqBase(searchable)
    val books = PqIndex.train(base, "__nvec", m, kk)
    import spark.implicits._
    installRebuild(pqTree, healAppend = Some(appendPqRows),
      storeSnapGen = storeSnapGen) { (tmp, gen) =>
      // rows FIRST (the Overwrite write nukes tmp, including staged
      // sidecars), then the codebooks into the staging dir
      pqCodeRows(base, books)
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", indexMaxRecordsPerFile)
        .partitionBy("source").parquet(tmp)
      books.flatMap { case (s, ws) => ws.map { case (j, c) => (s, j, c.toSeq) } }
        .toDF("s", "j", "c")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$tmp/${VectorLibrary.GeomStageDir}/books${geomSuffix(gen)}")
    }
    pqBooksCache = None
    touchMeta("pq_m" -> m.toString, "pq_k" -> kk.toString)
  }

  /** Append a batch's codes under the frozen stored codebooks. */
  private def appendPqRows(batch: DataFrame): Unit = {
    sweepOrphanGeom(pqTree)
    pqTree.appendCommitted(pqCodeRows(pqBase(batch), pqBooksStored()),
      indexMaxRecordsPerFile)
  }

  /** Drop the persisted PQ index (search falls back to the lazy
    * in-memory fit). */
  def dropPqIndex(): Unit = withTreeLocks(Seq("pq")) {
    hadoopFs(pqPath).delete(new org.apache.hadoop.fs.Path(pqPath), true)
    pqTree.invalidate()
    dropResolveCaches()
    pqBooksCache = None
  }

  // --- persisted IVF-PQ index -------------------------------------------
  // The composed serving layout (operators.IvfPq): ONE parquet table
  // partitioned by coarse cluster holding (chunk_id, source,
  // embedding, pq_codes) — a probe partition-prunes to nProbe cells
  // AND column-prunes phase 1 to the codes; the float pages open only
  // for the re-rank shortlist — plus tiny centroid/codebook side
  // tables. Codes are residual-PQ over L2-NORMALIZED vectors (ADC
  // tracks cosine, like the pq layout). Appends assign + encode under
  // the FROZEN geometry; targeted deletes copy-on-write victim files.
  private val ivfpqPath = s"$root/$name/ivfpq_index"
  private val ivfpqTree = intTree(s"$ivfpqPath/encoded", "cluster")

  /** True when the persisted IVF-PQ index has been built and holds data. */
  def hasIvfPqIndex: Boolean = hasVisibleData(s"$ivfpqPath/encoded")

  /** Stored centroids + codebooks, cached per store generation. */
  private def ivfpqSideStored(): (Seq[(Int, Array[Double])], PqIndex.Codebooks) =
    ivfpqSideCache.getOrElse {
      val side = ivfpqSideAt(headGenOf(ivfpqTree))
      ivfpqSideCache = Some(side)
      side
    }

  /** IVF-PQ geometry serving tree generation `gen`, each side loaded
    * once per resolved sidecar ([[geomLoad]]). */
  private def ivfpqSideAt(gen: Long): (Seq[(Int, Array[Double])], PqIndex.Codebooks) =
    (geomLoad(s"$ivfpqPath/centroids", gen) { path =>
       IvfPq.readCenters(spark, ivfpqPath,
         path.stripPrefix(s"$ivfpqPath/centroids")) },
     geomLoad(s"$ivfpqPath/books", gen) { path =>
       IvfPq.readBooks(spark, ivfpqPath,
         path.stripPrefix(s"$ivfpqPath/books")) })

  /** Encoded rows clustered per coarse-cluster directory. */
  private def ivfpqRowsClustered(encoded: DataFrame): DataFrame =
    encoded.sortWithinPartitions(col("cluster"), col("chunk_id"))

  /** Build (or rebuild) the persisted IVF-PQ index: one coarse
    * k-means + m residual-subspace fits + one partitioned write.
    * Search under algorithm "ivfpq" then opens nProbe cluster
    * directories and reads codes-only in phase 1. */
  def buildIvfPqIndex(nCentroids: Int = 16, m: Int = 8, kk: Int = 16): Unit = withTreeLocks(Seq("ivfpq")) {
    require(!storeIsEmpty, s"library $name is empty — nothing to fit IVF-PQ to")
    val storeSnapGen = storeTree.snapshotGen() // before the coarse fit plans
    val idx = IvfPq.train(pqBase(searchable), "__nvec", nCentroids, m, kk)
    import spark.implicits._
    installRebuild(ivfpqTree, healAppend = Some(appendIvfPqRows),
      storeSnapGen = storeSnapGen) { (tmp, gen) =>
      // rows FIRST (the Overwrite write nukes tmp, including staged
      // sidecars), then the geometry set into the staging dir
      ivfpqRowsClustered(idx.encoded.drop("__nvec"))
        .write.mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", indexMaxRecordsPerFile)
        .partitionBy("cluster").parquet(tmp)
      val stage = s"$tmp/${VectorLibrary.GeomStageDir}"
      idx.centers.map { case (i, c) => (i, c.toSeq) }.toDF("cluster", "centroid")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$stage/centroids${geomSuffix(gen)}")
      idx.books.flatMap { case (s, ws) => ws.map { case (j, c) => (s, j, c.toSeq) } }
        .toDF("s", "j", "codeword")
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$stage/books${geomSuffix(gen)}")
      // Build-time coarse-assignment quality: the drift baseline
      // (appends assign to the FROZEN geometry; this number rising is
      // the refit signal). Computed from the in-hand encoded frame —
      // pre-commit, so the whole sidecar set lands atomically with
      // the row-tree flip.
      ivfpqMeanSqDistOf(idx.encoded, idx.centers)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$stage/stats${geomSuffix(gen)}")
    }
    ivfpqSideCache = None
    touchMeta("ivfpq_ncentroids" -> nCentroids.toString,
      "ivfpq_m" -> m.toString, "ivfpq_k" -> kk.toString)
  }

  /** Append a batch under the frozen stored centroids + codebooks. */
  private def appendIvfPqRows(batch: DataFrame): Unit = {
    sweepOrphanGeom(ivfpqTree)
    val (centers, books) = ivfpqSideStored()
    ivfpqTree.appendCommitted(
      ivfpqRowsClustered(
        IvfPq.encodeFrozen(pqBase(batch), "__nvec", centers, books)
          .drop("__nvec")),
      indexMaxRecordsPerFile)
  }

  /** Drop the persisted IVF-PQ index (search falls back to the lazy
    * in-memory fit). */
  def dropIvfPqIndex(): Unit = withTreeLocks(Seq("ivfpq")) {
    hadoopFs(ivfpqPath).delete(new org.apache.hadoop.fs.Path(ivfpqPath), true)
    ivfpqTree.invalidate()
    dropResolveCaches()
    ivfpqSideCache = None
  }

  /** (n, mean_sq_dist) of the encoded rows' NORMALIZED vectors against
    * their assigned coarse centroid — the coarse-assignment quality of
    * the composed index (the PQ codes quantize residuals; when rows
    * drift from the cells, residuals grow and ADC fidelity decays, so
    * coarse drift is the refit signal for BOTH quantizers). */
  private def ivfpqMeanSqDist(): DataFrame =
    ivfpqMeanSqDistOf(ivfpqTree.open(), ivfpqSideStored()._1)

  /** [[ivfpqMeanSqDist]] over an explicit (encoded, centers) pair —
    * the build path computes the baseline from its in-hand frames
    * before the tree commits. */
  private def ivfpqMeanSqDistOf(encoded: DataFrame,
                                centers: Seq[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    val cents = centers
      .map { case (i, c) => (i, c.toSeq) }.toDF("cluster", "centroid")
    encoded
      .join(broadcast(cents), "cluster")
      .select(aggregate(
        zip_with(l2Normalize(col("embedding")).cast("array<double>"), col("centroid"),
          (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _).as("sqd"))
      .agg(count(lit(1)).as("n"), avg(col("sqd")).as("mean_sq_dist"))
  }

  /** Drift ratio of the IVF-PQ index: current mean squared coarse-
    * assignment distance over the build-time baseline; ~1.0 healthy,
    * rising = appended data no longer matches the frozen geometry. */
  def ivfpqDrift: Double = {
    require(hasIvfPqIndex, s"library $name has no IVF-PQ index (buildIvfPqIndex first)")
    val statsBase = s"$ivfpqPath/stats"
    val base = spark.read
      .parquet(statsBase + geomSuffixAt(statsBase, headGenOf(ivfpqTree)))
      .head.getAs[Double]("mean_sq_dist")
    val cur = ivfpqMeanSqDist().head.getAs[Double]("mean_sq_dist")
    if (base > 0.0) cur / base else 1.0
  }

  /** Re-fit the full IVF-PQ geometry (coarse centroids AND residual
    * codebooks) when drift exceeds `threshold` — the composed analog
    * of refitIvfIfDrifted. Returns true when a re-fit ran. */
  def refitIvfPqIfDrifted(threshold: Double = 1.5): Boolean = withTreeLocks(Seq("ivfpq")) {
    if (!hasIvfPqIndex) return false
    if (ivfpqDrift <= threshold) return false
    val m = readMeta()
    buildIvfPqIndex(m.getOrElse("ivfpq_ncentroids", "16").toInt,
      m.getOrElse("ivfpq_m", "8").toInt, m.getOrElse("ivfpq_k", "16").toInt)
    true
  }

  /** IVF-PQ index health: cell occupancy + drift, the composed-index
    * member of the LSH/grid/IVF observability family. */
  def ivfpqIndexInfo: DataFrame = {
    require(hasIvfPqIndex, s"library $name has no IVF-PQ index (buildIvfPqIndex first)")
    val total = ivfpqSideStored()._1.size
    ivfpqTree.open()
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .agg(
        count(lit(1)).as("occupied_clusters"),
        round(avg(col("cluster_size")), 4).as("avg_cluster_size"),
        max(col("cluster_size")).as("max_cluster_size"))
      .withColumn("total_clusters", lit(total))
      .withColumn("empty_clusters", lit(total) - col("occupied_clusters"))
      .withColumn("drift_ratio", round(lit(ivfpqDrift), 6))
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /** Library stats (reference GET /libraries/{id}/index-info, incl.
    * the vector-storage memory estimate of algorithms.py:197-201). */
  def stats: DataFrame = {
    chunks.agg(
      count(lit(1)).as("vector_count"),
      max(size(col("embedding"))).as("dimension"),
      countDistinct(col("doc_id")).as("n_documents"),
      countDistinct(col("source")).as("n_sources"),
      round(avg(col("n_tokens")), 4).as("avg_chunk_tokens"),
      sum(when(col("embedding").isNull, 1).otherwise(0)).as("unindexed_chunks"))
      .withColumn("est_memory_mb",
        round(col("vector_count") * col("dimension") * 4 / lit(1024.0 * 1024.0), 3))
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /**
   * LSH index health: the bucket-occupancy histogram of the stored
   * index (reference LSHIndex.get_stats, algorithms.py:420-441 —
   * total/avg/max/empty buckets, surfaced via
   * vector_service.py:394 get_library_index_info). Computed from the
   * materialized `lsh_buckets` column: one explode + one aggregate,
   * no vector math.
   */
  def indexInfo: DataFrame = {
    val perBucket = chunks
      .select(posexplode(col("lsh_buckets")).as(Seq("tbl", "bucket")))
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
    val totalBuckets = numTables * (1 << bitsPerTable)
    perBucket.agg(
      count(lit(1)).as("occupied_buckets"),
      round(avg(col("bucket_size")), 4).as("avg_bucket_size"),
      max(col("bucket_size")).as("max_bucket_size"))
      .withColumn("total_buckets", lit(totalBuckets))
      .withColumn("empty_buckets", lit(totalBuckets) - col("occupied_buckets"))
      .withColumn("num_tables", lit(numTables))
      .withColumn("bits_per_table", lit(bitsPerTable))
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /**
   * IVF index health (the cluster-occupancy analog of the LSH bucket
   * histogram — reference get_stats surfaced per index type via
   * get_library_index_info): cell count, occupancy, size skew, plus
   * the assignment-drift ratio that gates refits. Requires the
   * on-disk index; the aggregate reads ONLY the cluster partition
   * column, so at 100 TB this is directory listing + row-group
   * counts, not a data scan.
   */
  def ivfIndexInfo: DataFrame = {
    require(hasIvfIndex, s"library $name has no IVF index (buildIvfIndex first)")
    val perCluster = ivfTree.open()
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    val total = ivfCentroids
    perCluster.agg(
      count(lit(1)).as("occupied_clusters"),
      round(avg(col("cluster_size")), 4).as("avg_cluster_size"),
      max(col("cluster_size")).as("max_cluster_size"))
      .withColumn("total_clusters", lit(total))
      .withColumn("empty_clusters", lit(total) - col("occupied_clusters"))
      .withColumn("drift_ratio", round(lit(ivfDrift), 6))
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /**
   * Grid index health: cell occupancy under the frozen fitted bounds —
   * the grid member of the LSH/IVF/IVF-PQ observability family.
   * total_cells is the full lattice (cellsPerDim^gridDims); vectors
   * outside the fitted bounds clamp into edge cells, so occupancy is
   * always within it. No drift ratio: the bounds are frozen by design
   * and a re-fit is a rebuild decision, not a distance signal.
   */
  def gridIndexInfo: DataFrame = {
    require(hasGridIndex, s"library $name has no grid index (buildGridIndex first)")
    val (_, _, gd, cpd) = gridBoundsStored()
    val counts = gridCounts()
    val total = math.pow(cpd.toDouble, gd.toDouble).toLong
    import spark.implicits._
    Seq((counts.size.toLong,
      math.rint(counts.map(_._2).sum.toDouble / counts.size * 1e4) / 1e4,
      counts.map(_._2).max,
      total, total - counts.size))
      .toDF("occupied_cells", "avg_cell_size", "max_cell_size",
        "total_cells", "empty_cells")
      .withColumn("library", lit(name))
      .withColumn("algorithm", lit(algo))
  }

  /** Chunks whose embedding is missing (reference get_unindexed_chunks). */
  def unindexed: DataFrame = chunks.filter(col("embedding").isNull)

  /**
   * Remove chunks whose parent document is not in `documents` — the
   * reference's background orphan cleanup (background_tasks.py:94),
   * as a semi-join copy-on-write rewrite. Returns removed-chunk count.
   */
  def cleanupOrphans(documents: DataFrame): Long =
    deleteVictims(chunks.join(
      documents.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"))

  /** Batch chunk fetch by id (reference get_chunks_batch): a semi-join
    * against a broadcast id frame rather than an IN literal, so a
    * large id batch stays a hash join instead of a giant predicate. */
  def chunksBatch(chunkIds: Seq[String]): DataFrame = {
    import spark.implicits._
    chunks.join(broadcast(chunkIds.toDF("chunk_id")), Seq("chunk_id"), "left_semi")
  }

  /** All chunks of one document, in order (reference
    * GET /documents/{id}/chunks). */
  def documentChunks(docId: Long): DataFrame =
    chunks.filter(col("doc_id") === docId).orderBy(col("chunk_idx").asc)

  /**
   * Streaming ingest: the reference's background embedding task
   * (services/background_tasks.py:15-40 — embed-and-index each new
   * chunk as it arrives) as a Structured Streaming pipeline. New
   * document files landing in `docsPath` are chunked, embedded, and
   * appended to the library store incrementally.
   */
  def ingestStream(docsStream: DataFrame, checkpoint: String,
                   chunkWindow: Int = 32): org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch + the store tree's manifest commit, NOT the native
    // parquet streaming sink: the sink writes files straight into the
    // store directory, which a MANIFESTED store never adopts (streamed
    // rows would be invisible orphans), and its _spark_metadata log
    // makes even listing reads sink-scoped. Committing through
    // appendCommitted keeps one ingest discipline for batch and
    // stream. foreachBatch recovery is at-least-once per micro-batch,
    // but chunk_ids are deterministic (library#doc#idx) and only the
    // FIRST batch after a (re)start can be a replay of a batch whose
    // commit already landed — dropReplayedChunks anti-joins exactly
    // that batch against the store, making the store commit effectively
    // exactly-once at O(one reconcile scan per restart), never a
    // per-batch cost.
    var reconcileFirst = true
    TextAnalysis.chunksUnordered(docsStream, chunkWindow)
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => withWriterLock {
        val raw = batch.persist()
        val b = if (reconcileFirst) dropReplayedChunks(raw) else raw
        reconcileFirst = false
        if (!b.isEmpty) {
          // The embed runs HERE, per micro-batch, so an embedder
          // outage is a per-batch event the stream can ride out: the
          // batch stores PENDING (typed-null embedding, invisible to
          // search and index fits — the reference's unindexed-chunk
          // state) instead of failing the stream; rebuildIndex() is
          // the existing catch-up that embeds pending rows in bulk.
          embedOrPending(b, batchId).fold {
            storeTree.appendCommitted(bySource(pendingRows(b.drop("chunk_id"))), 0L)
          } { eb =>
            try storeTree.appendCommitted(eb, 0L) finally eb.unpersist()
          }
          invalidateIndexes()
        }
        if (b ne raw) b.unpersist()
        raw.unpersist()
        ()
      } }
      .start()
  }

  /** Embed + index-column a micro-batch, with ONLY the embed step
    * fallback-eligible: the seam's bulk hook materializes first (its
    * failure = service outage → None, loudly — the caller stores the
    * batch pending instead of failing the stream), and the derived
    * index columns (lsh/quant/bits — graft's own deterministic
    * expressions) compute AFTER, outside the catch: their failures
    * are bugs that must fail the stream, not masquerade as an outage
    * and strand rows pending forever (rebuildIndex would hit the
    * same bug). NonFatal only — an OOM or the stop() interrupt
    * propagates. */
  private def embedOrPending(b: DataFrame, batchId: Long): Option[DataFrame] = {
    val embedded = embed.embedFrame(b.drop("chunk_id"),
      "chunk_text", "search_document", "embedding").persist()
    val up =
      try { embedded.count(); true }
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[graft] stream batch $batchId: embedding " +
          s"failed (${Option(t.getMessage).getOrElse(t).toString.take(120)}) — " +
          "storing the batch PENDING; run rebuildIndex() once the " +
          "embedding service is back")
        false
      }
    if (!up) { embedded.unpersist(); None }
    else try {
      val full = bySource(derivedIndexColumns(embedded)).persist()
      full.count()
      Some(full)
    } finally embedded.unpersist()
  }

  /** Replay idempotence for streaming ingest: drop the micro-batch rows
    * whose chunk_id is ALREADY in the store. Called only on the first
    * batch after a stream (re)start — the only batch foreachBatch's
    * at-least-once recovery can replay — so the cost is one store-side
    * semi scan per restart, not per batch. The batch's ids broadcast to
    * the store scan and the (small) intersection broadcasts back to the
    * batch-side anti join: no shuffle of the store at any size. */
  private def dropReplayedChunks(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (!hasVisibleData(path)) return batch
    val ids = batch.select("chunk_id").distinct()
    val existing = chunks
      .join(broadcast(ids), Seq("chunk_id"), "left_semi")
      .select("chunk_id")
    val fresh = batch
      .join(broadcast(existing), Seq("chunk_id"), "left_anti").persist()
    fresh.count() // materialize: ONE reconcile scan, not one per consumer
    fresh
  }

  /**
   * Streaming ingest that ALSO maintains the bucket-partitioned LSH
   * index incrementally: each micro-batch appends its chunks to the
   * store and its exploded (tbl, bucket) rows to the index — the
   * streaming form of the reference's background embed-and-index loop
   * (background_tasks.py:15-40), with the index never rebuilt from
   * scratch. foreachBatch drives the two sinks; the first batch after
   * a (re)start reconciles against the store (deterministic chunk_ids,
   * library#doc#idx), so a crash-replayed micro-batch never commits
   * duplicate rows.
   */
  /**
   * Streaming ingest with index maintenance (reference
   * background_tasks: embed + index each arrival, plus the periodic
   * cleanup loop): each micro-batch dual-writes store + partitioned
   * index; every `compactEvery` batches the fragmented index
   * directories compact in place (compactEvery = 0 disables). This is
   * the always-on form of a lake table's OPTIMIZE schedule — the
   * stream itself keeps its own files healthy, no external daemon.
   */
  def ingestStreamIndexed(docsStream: DataFrame, checkpoint: String,
                          chunkWindow: Int = 32, compactEvery: Int = 0,
                          maxFilesPerPartition: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    // A pre-existing store WITHOUT the partitioned index would
    // otherwise end up with a PARTIAL index holding only streamed
    // rows (the first append creates the directory, flipping
    // hasPartitionedIndex while every earlier chunk is missing). An
    // index that exists but PREDATES the quant codes column has the
    // same hazard in schema form: streamed appends would mix
    // generations and the quantized probe would read null codes for
    // old rows, silently dropping them from phase 1 — the exact guard
    // appendBatch applies, applied once at stream start.
    if (hadoopFs(path).exists(new org.apache.hadoop.fs.Path(path)) &&
        (!hasPartitionedIndex || !partitionedIndex.columns.contains("quant")
          || !partitionedIndex.columns.contains("source")))
      buildPartitionedIndex()
    // replay idempotence mirrors plain ingestStream: only the first
    // batch after a (re)start can be a replay — anti-join it against
    // the store. A crash BETWEEN this batch's store commit and one of
    // its index commits leaves that index short by the batch; that is
    // exactly the gap repairIndexes() closes from the store.
    var reconcileFirst = true
    TextAnalysis.chunksUnordered(docsStream, chunkWindow)
      .withColumn("chunk_id",
        concat_ws("#", lit(name), col("doc_id"), col("chunk_idx")))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) => withWriterLock {
        val raw = batch.persist()
        val b0 = if (reconcileFirst) dropReplayedChunks(raw) else raw
        // rows the reconcile dropped ARE in the store but may be
        // missing from any index whose commit the crash preceded
        // (Spark replays a batch only if foreachBatch never returned,
        // i.e. some commit after the store's didn't land) — a dropped
        // row is therefore EVIDENCE of a possible index gap
        val replayGap = reconcileFirst && (b0 ne raw) &&
          b0.count() < raw.count()
        reconcileFirst = false
        if (!b0.isEmpty) {
          // per-batch embed with the pending fallback (see
          // [[ingestStream]]): an embedding-service outage stores the
          // batch pending — joining NO index — instead of killing the
          // stream; rebuildIndex() embeds and indexes it later
          embedOrPending(b0, batchId).fold {
            storeTree.appendCommitted(bySource(pendingRows(b0.drop("chunk_id"))), 0L)
            invalidateIndexes()
          } { b =>
            try {
              storeTree.appendCommitted(b, 0L)
              lshTree.appendCommitted(indexRows(b), indexMaxRecordsPerFile)
              // mirror appendBatch: every derived index stays current and
              // session caches drop, so ivf/grid/flat search sees the arrivals
              if (hasIvfIndex) appendOrRebuildIvf(b)
              if (hasGridIndex) appendGridRows(b)
              if (hasPqIndex) appendPqRows(b)
              if (hasIvfPqIndex) appendIvfPqRows(b)
              invalidateIndexes()
            } finally b.unpersist()
          }
        }
        // heal the evidenced gap NOW instead of leaving the indexes
        // silently short until someone runs repairIndexes by hand —
        // cost: one store/index reconcile, only on a replayed restart
        if (replayGap) repairIndexes()
        if (b0 ne raw) b0.unpersist()
        raw.unpersist()
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactPartitionedIndex(maxFilesPerPartition)
        ()
      } }
      .start()
  }

  /**
   * Delete documents by predicate (reference DELETE /chunks,
   * /documents): lake-style copy-on-write — ONLY the store partitions
   * and derived-index partitions holding victim rows rewrite (see
   * deleteVictims), exactly how Delta/Iceberg deletes compile. A NULL
   * predicate result KEEPS the row (a victim is a row where the
   * predicate is definitely true).
   */
  def deleteDocuments(predicate: Column): Unit = withWriterLock {
    deleteVictims(chunks.filter(coalesce(predicate, lit(false))))
    ()
  }

  /** Rewrite the store to `newData`, committed like every other
    * rebuild ([[installRebuild]]): the rewrite lands in a tmp tree
    * (reads see intact live data throughout), its files rename in
    * beside the previous generation, and the manifest commits a full
    * generation referencing exactly the fresh set. The pre-rewrite
    * store stays resolvable for epoch-pinned readers and restoreTo
    * until vacuum — this path used to rename the whole chunks
    * directory aside (tearing any concurrent reader mid-plan) and
    * took the manifest chain with it, silently demoting the store to
    * a listing tree and dangling every recorded epoch.
    * `reindex = false` skips the derived-index rebuild for rewrites
    * that provably keep every (chunk_id, embedding, quant,
    * lsh_buckets) row intact — compaction moves rows between files
    * but changes none of them. */
  private def swapStore(newData: DataFrame, reindex: Boolean = true): Unit = {
    installRebuild(storeTree) { (tmp, _) =>
      bySource(newData).write.mode(SaveMode.Overwrite).partitionBy("source").parquet(tmp)
    }
    invalidateIndexes()
    // The partitioned index is derived data: when the rewrite can
    // change row content (rebuildIndex re-embeds), re-derive it from
    // the rewritten store so stale signatures never serve. Deletes no
    // longer come through here — deleteVictims copy-on-writes only the
    // victim index partitions.
    if (reindex && hasPartitionedIndex) buildPartitionedIndex()
    if (reindex && hasIvfIndex) buildIvfIndex(ivfCentroids)
    if (reindex && hasGridIndex) {
      val m = readMeta()
      buildGridIndex(m.getOrElse("grid_dims", "4").toInt,
        m.getOrElse("grid_cells_per_dim", "4").toInt)
    }
    if (reindex && hasPqIndex) {
      val m = readMeta()
      buildPqIndex(m.getOrElse("pq_m", "8").toInt, m.getOrElse("pq_k", "16").toInt)
    }
    if (reindex && hasIvfPqIndex) {
      val m = readMeta()
      buildIvfPqIndex(m.getOrElse("ivfpq_ncentroids", "16").toInt,
        m.getOrElse("ivfpq_m", "8").toInt, m.getOrElse("ivfpq_k", "16").toInt)
    }
    touchMeta()
  }

  /**
   * Rebuild the index columns in place (reference
   * POST /libraries/{id}/index + the background batch re-index of
   * unindexed chunks, background_tasks.py:260): chunks missing an
   * embedding are re-embedded; lsh_buckets and quant codes are
   * re-derived for every row; the store swaps atomically.
   */
  def rebuildIndex(): Unit = withWriterLock {
    // The unindexed subset re-embeds through the BULK seam
    // (embedFrame: per-partition batched service calls — the
    // reference's batch_process_unindexed_chunks batches exactly this,
    // background_tasks.py:260-281). Routing it through the per-row
    // embed() expression would cost one service round-trip + retry
    // loop PER CHUNK under a ServiceEmbedder.
    val base = chunks
    val order = base.columns.map(col).toSeq
    val reembedded = embed.embedFrame(
      base.filter(col("embedding").isNull).drop("embedding"),
      "chunk_text", "search_document", "embedding").select(order: _*)
    swapStore(base.filter(col("embedding").isNotNull)
      .unionByName(reembedded)
      .withColumn("lsh_buckets", lshBuckets(col("embedding"), numTables, bitsPerTable, seed))
      .withColumn("quant", quantizeVec(l2Normalize(col("embedding"))))
      .withColumn("bits", bitPack(col("embedding"))))
  }

  /**
   * Compact the store (the maintenance half of the reference's
   * background reindex loop, adapted to a lake layout): streaming
   * ingest appends one small parquet file per micro-batch per source;
   * compaction rewrites each source into one file (several of advisory
   * size for a large source — the store commit's clustering),
   * restoring scan efficiency without touching row content.
   */
  def compact(): Unit = withWriterLock {
    swapStore(chunks, reindex = false)
  }

  /**
   * Lake-maintenance observability: per-source file-layout health of
   * the store — file count, byte totals, and the small-file flag that
   * says WHEN to run [[compact]] (streaming ingest appends one file
   * per micro-batch per source; reading a source fragmented into many
   * KB-scale files costs an open/footer-parse per file, the classic
   * small-files tax). Driver-side directory listing only — the same
   * FS metadata every planner `listFiles` pass already reads — so the
   * audit is corpus-size-independent.
   */
  def storeFileStats(smallFileBytes: Long = 4L * 1024 * 1024): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Layout health is a property of what readers PLAN — the
    // manifest-LIVE set. The directories also hold history-retained
    // bytes (COW victims, displaced compaction/rebuild generations)
    // that no read plans and vacuum reclaims on schedule; counting
    // those would re-flag a directory that just compacted, and the
    // maintenance loop this report drives would rewrite the same rows
    // forever. A pre-manifest tree's listing IS its live set.
    val liveFiles: Seq[(String, Long)] = storeTree.readManifest() match {
      case Some(entries) => entries.map { case (rel, sz) =>
        (rel, if (sz >= 0) sz
              else fs.getFileStatus(new Path(s"$path/$rel")).getLen)
      }
      case None =>
        if (!fs.exists(rootP)) Seq.empty
        else fs.listStatus(rootP).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("source="))
          .flatMap { dir =>
            fs.listStatus(dir.getPath).toSeq
              .filter(f => f.isFile && !f.getPath.getName.startsWith(".")
                && !f.getPath.getName.startsWith("_"))
              .map(f => (s"${dir.getPath.getName}/${f.getPath.getName}", f.getLen))
          }
    }
    val rows = liveFiles
      .filter(_._1.startsWith("source="))
      .groupBy(_._1.takeWhile(_ != '/'))
      .map { case (dirName, entries) =>
        val sizes = entries.map(_._2)
        (dirName.stripPrefix("source="),
          entries.size.toLong, sizes.sum,
          if (sizes.isEmpty) 0L else sizes.max,
          sizes.count(_ < smallFileBytes).toLong)
      }.toSeq
    rows.toDF("source", "n_files", "total_bytes", "max_file_bytes", "small_files")
      .withColumn("needs_compaction", col("small_files") > 1)
      .orderBy(col("source").asc)
  }

  /**
   * Per-tree manifest census — the observability face of the
   * maintenance loop: for the store and each derived layout, whether
   * it is manifest-committed, and the LIVE file count / bytes read
   * straight from the manifest (zero filesystem listing — at 100 TB
   * this is six small file reads). `live_files = -1` marks a
   * pre-manifest tree (reads fall back to listing until its next
   * mutation upgrades it); absent trees are omitted.
   */
  def manifestInfo: DataFrame = {
    import spark.implicits._
    Seq("store" -> storeTree, "lsh" -> lshTree, "ivf" -> ivfTree,
      "grid" -> gridTree, "pq" -> pqTree, "ivfpq" -> ivfpqTree)
      .filter { case (_, t) => hadoopFs(t.root)
        .exists(new org.apache.hadoop.fs.Path(t.root)) }
      .map { case (n, t) =>
        (t.readManifest(), t.chainInfo()) match {
          case (Some(entries), Some((gen, deltas))) =>
            (n, true, entries.size.toLong, entries.map(_._2).filter(_ > 0).sum,
              gen, deltas)
          case _ => (n, false, -1L, -1L, -1L, -1)
        }
      }
      .toDF("tree", "manifested", "live_files", "live_bytes",
        "generation", "chain_deltas")
      .withColumn("library", lit(name))
  }

  /**
   * Update a document's text (reference PUT /chunks + background
   * re-embed, services/chunk_service.py:100-127): delete the old
   * chunks, re-chunk/re-embed/re-index the new content.
   */
  def updateDocument(docId: Long, newDocs: DataFrame): Unit = withWriterLock {
    deleteDocuments(col("doc_id") === docId)
    addDocuments(newDocs)
  }

  /**
   * Update a single chunk's text in place (reference PUT /chunks/{id},
   * chunk_service.py:100-127 + background re-embed): the chunk keeps
   * its (doc_id, source, chunk_idx) identity — and therefore its
   * chunk_id — while text, token count, embedding and index columns
   * re-derive. Store semantics are the same copy-on-write swap every
   * other mutation uses. The identity fetch is pruned (see
   * [[chunkLookup]]): doc_id parses out of the chunk_id for row-group
   * skipping, and a caller-supplied `source` partition-prunes to one
   * directory — no full-store scan per PUT.
   */
  /** The 1-row identity frame behind a chunk PUT. chunk_id encodes
    * (library, doc_id, chunk_idx), so the fetch always filters on the
    * parsed doc_id too — store files are sorted by (source, doc_id),
    * so parquet row-group statistics skip every group not holding the
    * document. A caller-supplied `source` additionally partition-
    * prunes the scan to that one source= directory (the store's
    * partition column), making the lookup O(one partition's footers)
    * instead of O(store). */
  private[graft] def chunkLookup(chunkId: String,
                                 source: Option[String] = None): DataFrame = {
    val parts = chunkId.split("#")
    val parsedDoc =
      if (parts.length >= 3) scala.util.Try(parts(parts.length - 2).toLong).toOption
      else None
    val base = source.fold(chunks)(s => chunks.filter(col("source") === s))
    val narrowed = parsedDoc.fold(base)(d => base.filter(col("doc_id") === d))
    narrowed.filter(col("chunk_id") === chunkId)
  }

  def updateChunk(chunkId: String, newText: String,
                  source: Option[String] = None): Unit = withWriterLock {
    val old = chunkLookup(chunkId, source)
      .select(col("doc_id"), col("source"), col("chunk_idx")).collect()
    require(old.nonEmpty, s"chunk $chunkId does not exist")
    deleteDocuments(col("chunk_id") === chunkId)
    import spark.implicits._
    addChunkedDocuments(
      Seq((old(0).getLong(0), old(0).getInt(2), newText, old(0).getString(1)))
        .toDF("doc_id", "chunk_idx", "chunk_text", "source"))
  }

  /** Drop the library store (reference DELETE /libraries/{id}). */
  def delete(): Unit = withWriterLock {
    invalidateIndexes()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$name"), true)
  }
}

object VectorLibrary {
  /** Staging subdirectory inside a rebuild's tmp tree where the build
    * callback writes its geometry sidecars; installRebuild renames
    * them beside the tree root immediately before the manifest commit.
    * Underscore-prefixed: invisible to listTree's fresh-file census. */
  val GeomStageDir = "_geom"

  /** Index algorithms a library can route search through (reference
    * IndexAlgorithm enum + the quantized two-phase extension). */
  val algorithms: Set[String] =
    Set("flat", "lsh", "grid", "ivf", "quantized", "binary", "pq", "ivfpq")

  /** All libraries under a root (reference GET /libraries): one row
    * per library directory with its persisted metadata. */
  def list(spark: SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val names =
      if (!fs.exists(rootPath)) Seq.empty[String]
      else fs.listStatus(rootPath).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    names.sorted.map { n =>
      val m = new VectorLibrary(spark, root, n).metadata
      (n, m.getOrElse("description", ""), m.getOrElse("algorithm", "flat"),
        m.getOrElse("created_at", ""), m.getOrElse("updated_at", ""))
    }.toDF("library", "description", "algorithm", "created_at", "updated_at")
  }

  /**
   * Index health of EVERY library under a root in one call (reference
   * get_all_library_indexes_info, services/vector_service.py:424-433):
   * each library's LSH / grid / IVF / IVF-PQ info views normalized
   * onto one occupancy schema — (library, algorithm, index_type,
   * total_cells, occupied_cells, empty_cells, avg_cell_size,
   * max_cell_size, drift_ratio) — and unioned. "Cells" are LSH
   * buckets, grid cells, IVF clusters or IVF-PQ clusters per the
   * index_type discriminator; drift_ratio is null for LSH/grid (no
   * distance geometry to drift from). Libraries
   * with no built index contribute no rows, matching the reference's
   * skip-if-absent. The driver loop is over library NAMES only; each
   * contributed row is the same pruned 1-row aggregate its
   * per-library view runs.
   */
  def allIndexInfo(spark: SparkSession, root: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val names = list(spark, root).select("library").collect().map(_.getString(0))
    def num(r: org.apache.spark.sql.Row, field: String): Long =
      r.getAs[Number](field).longValue
    val rows = names.toSeq.flatMap { n =>
      val lib = new VectorLibrary(spark, root, n)
      val lsh =
        if (lib.storeIsEmpty) Seq.empty
        else {
          val r = lib.indexInfo.head
          Seq((n, r.getAs[String]("algorithm"), "lsh",
            num(r, "total_buckets"), num(r, "occupied_buckets"),
            num(r, "empty_buckets"), r.getAs[Double]("avg_bucket_size"),
            num(r, "max_bucket_size"), Option.empty[Double]))
        }
      val grid =
        if (!lib.hasGridIndex) Seq.empty
        else {
          val r = lib.gridIndexInfo.head
          Seq((n, r.getAs[String]("algorithm"), "grid",
            num(r, "total_cells"), num(r, "occupied_cells"),
            num(r, "empty_cells"), r.getAs[Double]("avg_cell_size"),
            num(r, "max_cell_size"), Option.empty[Double]))
        }
      val ivf =
        if (!lib.hasIvfIndex) Seq.empty
        else {
          val r = lib.ivfIndexInfo.head
          Seq((n, r.getAs[String]("algorithm"), "ivf",
            num(r, "total_clusters"), num(r, "occupied_clusters"),
            num(r, "empty_clusters"), r.getAs[Double]("avg_cluster_size"),
            num(r, "max_cluster_size"), Some(r.getAs[Double]("drift_ratio"))))
        }
      val ivfpq =
        if (!lib.hasIvfPqIndex) Seq.empty
        else {
          val r = lib.ivfpqIndexInfo.head
          Seq((n, r.getAs[String]("algorithm"), "ivfpq",
            num(r, "total_clusters"), num(r, "occupied_clusters"),
            num(r, "empty_clusters"), r.getAs[Double]("avg_cluster_size"),
            num(r, "max_cluster_size"), Some(r.getAs[Double]("drift_ratio"))))
        }
      lsh ++ grid ++ ivf ++ ivfpq
    }
    rows.toDF("library", "algorithm", "index_type", "total_cells",
      "occupied_cells", "empty_cells", "avg_cell_size", "max_cell_size",
      "drift_ratio")
  }

  private val datasetCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), VectorLibrary]

  /** Build-once library over a dataset's documents table (temp store,
    * partitioned LSH index built) — the bench/verify stand-in for a
    * long-lived library: queries against it measure the PROBE, not
    * ingest, mirroring how a serving cluster reads a store built by an
    * earlier ingest job.
    *
    * Strictly per-PROCESS (r13): every bench/verify invocation builds
    * its own library from the parquet inputs during its own (untimed)
    * preamble. A cross-process on-disk reuse keyed on the dataset
    * path briefly existed (r12-close, chasing preamble cost) but is a
    * persisted intermediate keyed on the test data — the optimization
    * rounds prohibit exactly that, so it was reverted; the per-session
    * TrieMap below is the only memo. */
  def forDataset(spark: SparkSession, dir: String): VectorLibrary =
    datasetCache.getOrElseUpdate((spark, dir), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-benchlib")
      // The per-process build dir would otherwise outlive the JVM and
      // accumulate a full store + index copy in /tmp per bench/verify
      // run (r14, ADVICE): remove it recursively at JVM exit.
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          import java.nio.file.{Files, Path}
          import java.util.Comparator
          Files.walk(tmp).sorted(Comparator.reverseOrder[Path]())
            .forEach(p => { try Files.deleteIfExists(p) catch { case _: Throwable => () } })
        } catch { case _: Throwable => () }))
      val built = new VectorLibrary(spark, tmp.toString, "bench")
      built.addDocuments(Tables.load(spark, dir, "documents"))
      built.buildPartitionedIndex()
      built
    })
}
