package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import graft.functions._

/**
 * Registration + Column API for graft's native expressions.
 *
 * Expressions are registered in the session FunctionRegistry and
 * exposed through `call_function`, which keeps the library on public
 * Spark API only (no private Column constructors).
 */
object GraftFunctions {

  /**
   * Pin a frame that several downstream consumers re-read. Default is
   * `persist(DISK_ONLY)`: blocks spill to executor disk but the
   * LINEAGE SURVIVES, so a lost executor recomputes its blocks instead
   * of killing the job — the property `localCheckpoint` gives up (it
   * truncates lineage and pins blocks with no fallback; acceptable
   * only on a single machine). `spark.graft.pin`:
   *  - "disk" (default): persist(DISK_ONLY), recomputable.
   *  - "reliable": df.checkpoint() — durable copy in the configured
   *    checkpoint dir (the cluster-profile choice when lineage is too
   *    expensive to replay).
   *  - "local": localCheckpoint(), the old single-machine behavior.
   */
  private[graft] def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.conf.get("spark.graft.pin", "disk") match {
      case "local" => df.localCheckpoint()
      case "reliable" => df.checkpoint()
      case _ =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        pinnedFrames.add(p)
        p
    }

  // Pinned frames outlive their operator call on purpose (the
  // RETURNED lazy frame references them; unpersisting inside the
  // operator would force a recompute per downstream action). On a
  // long-lived session they would otherwise accumulate cached blocks
  // until ContextCleaner happens to GC them, so the driver mains
  // (Bench/Verify) release them BETWEEN queries via [[releasePins]] —
  // the query's own actions are done, the next query re-pins what it
  // needs. Unpersist of an already-GC'd frame is a no-op.
  private val pinnedFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()

  /** Unpersist every frame [[pin]] has cached since the last release.
    * Call between queries / requests on a long-lived session. */
  def releasePins(): Unit = {
    var d = pinnedFrames.poll()
    while (d != null) {
      try d.unpersist() catch { case _: Throwable => () }
      d = pinnedFrames.poll()
    }
  }

  /**
   * Pin ITERATIVE loop state. Unlike [[pin]], lineage must TRUNCATE
   * each round — a plan that references the previous round's result
   * more than once doubles per iteration and overwhelms the optimizer
   * long before data size matters — so this is an eager checkpoint:
   *  - RELIABLE (df.checkpoint) when a checkpoint dir is configured —
   *    the cluster profile; loop state survives executor loss.
   *  - In local mode with no dir configured, a temp dir is
   *    auto-provisioned (same machine, same durability as any local
   *    run).
   *  - On a cluster with NO checkpoint dir, falls back to
   *    localCheckpoint — configure spark.checkpoint.dir to get
   *    executor-loss durability. `spark.graft.pin.iter=local` forces
   *    the old behavior.
   */
  private[graft] def pinIter(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    // (r14: defaulting local mode to localCheckpoint was tried and
    // reverted — despite saving the reliable checkpoint's second
    // computation + write job, it measured SLOWER on the iterative
    // dedup_components, 1.69 -> 2.30 s A/B: the cache-based
    // checkpoint's MEMORY_AND_DISK persist of every round's state
    // costs more here than the recompute it avoids.)
    df.sparkSession.conf.get("spark.graft.pin.iter", "reliable") match {
      case "local" => df.localCheckpoint()
      case _ =>
        if (sc.getCheckpointDir.isEmpty) {
          if (sc.isLocal)
            sc.setCheckpointDir(
              java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
          else return df.localCheckpoint()
        }
        df.checkpoint()
    }
  }

  /**
   * Heal unsplittable-input scan skew ahead of a heavy map kernel
   * (optimization guide §2.5, "input skew: one huge unsplittable
   * file"): a single-row-group parquet file — every sf0.1 base table,
   * and any gzip text shard at cluster scale — plans ONE scan task no
   * matter how many cores exist, serializing every per-row kernel
   * (minhash signatures, n-gram hashing, chunk+embed) downstream of
   * the scan. When the planned scan parallelism is below the
   * cluster's, spread rows round-robin to `defaultParallelism`
   * (deterministic under task retry: `sortBeforeRepartition` stays
   * on); when the input is already split — the 100 TB case, thousands
   * of row groups — this is the IDENTITY and adds no shuffle. Applied
   * only by operators whose downstream kernel cost dominates a
   * one-time shuffle of their narrow input columns; results are
   * partitioning-independent for every caller (exact aggregates,
   * deterministic tie-breaks) and stay oracle-gated.
   */
  private[graft] def scaleScan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Probe planned parallelism ONLY on provably shuffle-free plans
    // (r14, ADVICE): under AQE, Dataset.rdd on a plan containing
    // exchanges materializes every upstream query stage eagerly and
    // then discards the probe RDD — the upstream shuffles would
    // execute twice. The gate walks the OPTIMIZED LOGICAL plan for a
    // narrow scan/filter/project/generate chain rather than searching
    // the physical plan for Exchange nodes, because the physical view
    // hides them two ways (found via the ScalePathSpec probe test):
    // `sparkPlan` predates EnsureRequirements so exchanges don't exist
    // in it yet, and under AQE they sit inside AdaptiveSparkPlanExec
    // leaf wrappers — whose own inputPlan predates ITS EnsureRequire-
    // ments pass too. A plan that isn't such a chain either already
    // has cluster-wide parallelism downstream of its shuffle or isn't
    // a scan heal candidate at all, so skipping it loses nothing.
    if (narrowChain(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** True for a scan/filter/project/generate chain that holds no
    * subquery: the only plans [[scaleScan]] may probe through
    * `Dataset.rdd` without executing anything. A subquery in any node's
    * expressions (ScalarSubquery, InSubquery, Exists) would run eagerly
    * while the probe prepares the physical plan. */
  private[graft] def narrowChain(l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.logical._
    !l.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) && (l match {
      case _: LeafNode => true
      case r: Repartition if !r.shuffle => narrowChain(r.child) // coalesce
      case n @ (_: Project | _: Filter | _: SubqueryAlias | _: Generate) =>
        n.children.forall(narrowChain)
      case _ => false
    })
  }

  /**
   * Percentile aggregate honoring `spark.graft.percentiles`:
   *  - "exact" (default): interpolated `percentile()` — sorts each
   *    group's values; bit-replayable by the DuckDB oracle. Right
   *    whenever per-group volume fits a sort buffer (groups here are
   *    event types / sources — tens, not billions).
   *  - "approx": `approx_percentile()` (t-digest, accuracy 10000) —
   *    bounded memory at ANY per-group volume; the documented 100 TB
   *    trade as a config switch instead of an operator edit.
   */
  private[graft] def percentileAgg(spark: org.apache.spark.sql.SparkSession,
                                   valueCol: String, p: Double): Column =
    spark.conf.get("spark.graft.percentiles", "exact") match {
      case "approx" => expr(s"approx_percentile($valueCol, $p, 10000)")
      case "exact"  => expr(s"percentile($valueCol, $p)")
      case other => throw new IllegalArgumentException(
        s"spark.graft.percentiles must be exact|approx, got '$other'")
    }

  private def intLit(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue
  private def longLit(e: Expression): Long =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].longValue
  private def strLit(e: Expression): String =
    e.asInstanceOf[Literal].value.toString

  /** Builder wrapper: a clear arity error instead of the raw
    * IndexOutOfBoundsException a mis-called `es(i)` would throw out of
    * the analyzer. */
  private def checked(name: String, min: Int, max: Int)
                     (b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.size >= min && es.size <= max,
        if (min == max) s"$name expects $min argument(s), got ${es.size}"
        else s"$name expects $min to $max arguments, got ${es.size}")
      b(es)
    }
  private def iArg(es: Seq[Expression], i: Int, default: Int): Int =
    es.lift(i).map(intLit).getOrElse(default)
  private def lArg(es: Seq[Expression], i: Int, default: Long): Long =
    es.lift(i).map(longLit).getOrElse(default)

  /**
   * The SQL function surface: ONE table of (name, usage, builder)
   * shared by `register` (per-session) and [[GraftExtensions]]
   * (cluster-wide via spark.sql.extensions), so the two paths can
   * never drift. Trailing tuning arguments are optional with the same
   * defaults as the Column API.
   */
  private[graft] val sqlBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "dot product of two vectors",
      checked("graft_dot", 2, 2)(es => VectorDot(es(0), es(1)))),
    ("graft_cosine", "cosine similarity of two vectors",
      checked("graft_cosine", 2, 2)(es => VectorCosine(es(0), es(1)))),
    ("graft_l2_distance", "euclidean distance of two vectors",
      checked("graft_l2_distance", 2, 2)(es => VectorL2Distance(es(0), es(1)))),
    ("graft_l1_distance", "manhattan distance of two vectors",
      checked("graft_l1_distance", 2, 2)(es => VectorL1Distance(es(0), es(1)))),
    ("graft_norm", "L2 norm of a vector",
      checked("graft_norm", 1, 1)(es => VectorNorm(es(0)))),
    ("graft_l2_normalize", "L2-normalize a vector",
      checked("graft_l2_normalize", 1, 1)(es => VectorL2Normalize(es(0)))),
    ("graft_embed", "deterministic text embedding (text[, dim=64[, seed=42]])",
      checked("graft_embed", 1, 3)(es =>
        FakeEmbed(es(0), iArg(es, 1, 64), lArg(es, 2, 42L)))),
    ("graft_mix64", "splitmix64 finalizer of a long (sampling hash)",
      checked("graft_mix64", 1, 1)(es => Mix64(es(0)))),
    ("graft_minhash", "minhash signature (text[, shingleWords=3[, numHashes=64[, seed=42]]])",
      checked("graft_minhash", 1, 4)(es =>
        MinHashSig(es(0), iArg(es, 1, 3), iArg(es, 2, 64), lArg(es, 3, 42L)))),
    ("graft_simhash", "64-bit simhash (text[, seed=42])",
      checked("graft_simhash", 1, 2)(es => SimHash64(es(0), lArg(es, 1, 42L)))),
    ("graft_lsh_buckets", "LSH bucket ids (vec[, tables=8[, bits=8[, seed=42]]])",
      checked("graft_lsh_buckets", 1, 4)(es =>
        HyperplaneBuckets(es(0), iArg(es, 1, 8), iArg(es, 2, 8), lArg(es, 3, 42L)))),
    ("graft_fingerprint", "rolling-hash fingerprint (text[, seed=42])",
      checked("graft_fingerprint", 1, 2)(es => DocFingerprint(es(0), lArg(es, 1, 42L)))),
    ("graft_shingle_hashes", "distinct token-shingle hashes (text[, w=3])",
      checked("graft_shingle_hashes", 1, 2)(es =>
        ShingleHashesExpr(es(0), iArg(es, 1, 3)))),
    ("graft_winnow", "winnowing sketch hashes (text[, shingle=3[, window=4]])",
      checked("graft_winnow", 1, 3)(es =>
        WinnowSketchExpr(es(0), iArg(es, 1, 3), iArg(es, 2, 4)))),
    ("graft_text_stats", "token statistics struct (text)",
      checked("graft_text_stats", 1, 1)(es => TextStats(es(0), stopwordsEn))),
    ("graft_topk", "bounded top-k aggregate (id, score, k)",
      checked("graft_topk", 3, 3)(es => TopKAgg(es(0), es(1), intLit(es(2))))),
    ("graft_topk_str", "bounded top-k aggregate over string payloads (item, score, k)",
      checked("graft_topk_str", 3, 3)(es => TopKStrAgg(es(0), es(1), intLit(es(2))))),
    ("graft_lsh_probes", "multi-probe LSH buckets (vec[, tables=8[, bits=8[, probes=2[, seed=42]]]])",
      checked("graft_lsh_probes", 1, 5)(es =>
        HyperplaneProbes(es(0), iArg(es, 1, 8), iArg(es, 2, 8), iArg(es, 3, 2),
          lArg(es, 4, 42L)))),
    ("graft_quantize", "int8 quantize vector -> struct(scale, bytes)",
      checked("graft_quantize", 1, 1)(es => QuantizeVec(es(0)))),
    ("graft_quantized_dot", "approximate dot of two quantized structs",
      checked("graft_quantized_dot", 2, 2)(es => QuantizedDot(es(0), es(1)))),
    ("graft_bitpack", "1-bit sign quantize vector -> packed array<long>",
      checked("graft_bitpack", 1, 1)(es => BitPackVec(es(0)))),
    ("graft_hamming", "Hamming distance of two packed bit codes",
      checked("graft_hamming", 2, 2)(es => BitHamming(es(0), es(1)))),
    ("graft_tokens", "lowercased [a-z0-9] tokens (text)",
      checked("graft_tokens", 1, 1)(es => AsciiTokens(es(0)))),
    ("graft_distinct_tokens", "distinct lowercased tokens (text)",
      checked("graft_distinct_tokens", 1, 1)(es => AsciiDistinctTokens(es(0)))),
    // terms ride as one comma-separated literal (tokens never contain ',')
    ("graft_term_freqs", "doc length + term frequencies (text, 'a,b,c')",
      checked("graft_term_freqs", 2, 2)(es =>
        TermFreqsExpr(es(0), strLit(es(1)).split(',').toSeq))),
    ("graft_image_features", "decode image bytes, block-mean luminance grid (payload[, dim=16])",
      checked("graft_image_features", 1, 2)(es =>
        ImageFeatures(es(0), iArg(es, 1, 16)))))

  /** Idempotent; call once per SparkSession before using the helpers.
    * Skips sessions already registered: createOrReplaceTempFunction WARNs
    * "replaced a previously registered function" per function per call,
    * and configure() runs per query — 125 queries × ~30 functions of WARN
    * flooded the driver's stdout tail window for two rounds running. */
  def register(spark: SparkSession): Unit = {
    // createOrReplaceTempFunction is idempotent on its own — no
    // existence probe. The old check-then-act probe raced under
    // concurrent configure() calls (Verify's query pool): two threads
    // could both see "absent" and interleave partial registrations.
    // Replacing every builder unconditionally is a cheap registry put
    // per name and always lands a complete set.
    val reg = spark.sessionState.functionRegistry
    sqlBuilders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Canonical english stopword list (mirrored in the DuckDB oracle). */
  val stopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
    "on", "for", "with", "as", "at", "by", "an", "be", "this", "that", "it", "or")

  // ---- Column helpers ----------------------------------------------------
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def l2Distance(a: Column, b: Column): Column = call_function("graft_l2_distance", a, b)
  def l1Distance(a: Column, b: Column): Column = call_function("graft_l1_distance", a, b)
  /** Reference semantics: euclidean similarity = 1/(1+L2). */
  def euclideanSim(a: Column, b: Column): Column = lit(1.0) / (lit(1.0) + l2Distance(a, b))
  /** Reference semantics: manhattan similarity = 1/(1+L1). */
  def manhattanSim(a: Column, b: Column): Column = lit(1.0) / (lit(1.0) + l1Distance(a, b))
  def vecNorm(a: Column): Column = call_function("graft_norm", a)
  def l2Normalize(a: Column): Column = call_function("graft_l2_normalize", a)

  def embedText(text: Column, dim: Int = 64, seed: Long = 42L): Column =
    call_function("graft_embed", text, lit(dim), lit(seed))

  /** splitmix64 finalizer of a long column (deterministic sampling). */
  def mix64(c: Column): Column = call_function("graft_mix64", c)

  /** Embedding input types (reference embedding_service.py:169-233:
    * `search_document` at ingest vs `search_query` at search time). */
  val embedInputTypes: Set[String] = Set("search_document", "search_query")

  /** Input-typed embedding. The deterministic stand-in is symmetric —
    * both types map to the SAME projection so the doc and query spaces
    * stay aligned, exactly like a single-tower embedder — but the
    * contract point exists so a real two-tower model (distinct doc/
    * query encoders) plugs in without an API change, and an invalid
    * input type fails fast as in the reference. */
  def embedTextTyped(text: Column, inputType: String,
                     dim: Int = 64, seed: Long = 42L): Column = {
    require(embedInputTypes(inputType),
      s"unknown embedding input type '$inputType' (expected ${embedInputTypes.mkString(" or ")})")
    embedText(text, dim, seed)
  }
  def minhashSig(text: Column, shingleWords: Int = 3, numHashes: Int = 64, seed: Long = 42L): Column =
    call_function("graft_minhash", text, lit(shingleWords), lit(numHashes), lit(seed))
  def simhash(text: Column, seed: Long = 42L): Column =
    call_function("graft_simhash", text, lit(seed))
  def lshBuckets(vec: Column, numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L): Column =
    call_function("graft_lsh_buckets", vec, lit(numTables), lit(bitsPerTable), lit(seed))
  def lshProbes(vec: Column, numTables: Int = 8, bitsPerTable: Int = 8,
                extraProbes: Int = 2, seed: Long = 42L): Column =
    call_function("graft_lsh_probes", vec, lit(numTables), lit(bitsPerTable),
      lit(extraProbes), lit(seed))
  def docFingerprint(text: Column, seed: Long = 42L): Column =
    call_function("graft_fingerprint", text, lit(seed))
  def shingleHashes(text: Column, shingleWords: Int = 3): Column =
    call_function("graft_shingle_hashes", text, lit(shingleWords))
  /** Winnowing sketch hashes (MOSS fingerprint), sorted signed-asc. */
  def winnowSketch(text: Column, shingleWords: Int = 3, window: Int = 4): Column =
    call_function("graft_winnow", text, lit(shingleWords), lit(window))
  def textStats(text: Column): Column =
    call_function("graft_text_stats", text)
  /** Native bounded top-k aggregate -> array<struct<id,score>>. */
  def topKAgg(id: Column, score: Column, k: Int): Column =
    call_function("graft_topk", id, score, lit(k))
  /** String-payload top-k aggregate -> array<struct<item,score>>,
    * (score desc, item asc), already in final rank order. */
  def topKStrings(item: Column, score: Column, k: Int): Column =
    call_function("graft_topk_str", item, score, lit(k))
  /** vector -> struct(scale, int8 bytes): 4x compressed form. */
  def quantizeVec(vec: Column): Column = call_function("graft_quantize", vec)
  /** approximate dot of two quantized structs. */
  def quantizedDot(a: Column, b: Column): Column =
    call_function("graft_quantized_dot", a, b)
  /** vector -> packed sign bits (1-bit code, 64 dims per long). */
  def bitPack(vec: Column): Column = call_function("graft_bitpack", vec)
  /** Hamming distance between two packed 1-bit codes. */
  def bitHamming(a: Column, b: Column): Column = call_function("graft_hamming", a, b)

  /** Hamming distance between two 64-bit fingerprints (codegen'd built-ins). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Lowercased [a-z0-9]-run tokens (cross-engine token contract). */
  def tokensOf(text: Column): Column = call_function("graft_tokens", text)
  /** Distinct lowercased tokens. */
  def distinctTokens(text: Column): Column = call_function("graft_distinct_tokens", text)
  /** struct(dl, tfs): doc length + per-term frequencies in one pass. */
  def termFreqs(text: Column, terms: Seq[String]): Column = {
    // The kernel matches tokens literally, so any term outside the
    // lowercased [a-z0-9]+ token alphabet would silently score tf=0 —
    // fail fast instead.
    require(terms.forall(_.matches("[a-z0-9]+")),
      s"termFreqs terms must be lowercased [a-z0-9]+ strings: $terms")
    call_function("graft_term_freqs", text, lit(terms.mkString(",")))
  }
}
