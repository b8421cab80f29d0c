package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.GraftFunctions._

/**
 * k-NN search operators — the Spark re-expression of the reference's
 * vector indexes (/root/reference/vector_db/algorithms.py).
 *
 * Design for scale (SURVEY.md paragraph 4):
 *  - Flat search: similarity is one codegen'd expression over a columnar
 *    scan; `orderBy(desc).limit(k)` plans as TakeOrderedAndProject =
 *    per-partition top-k heap + driver merge of k rows per partition.
 *    No global sort, no shuffle of the corpus.
 *  - Single-query operators resolve the query row once on the driver
 *    ([[bindQuery]]) and bind its vector into the kernel expressions
 *    as a literal: no join, no broadcast, and the corpus is never
 *    moved. Batch operators broadcast their (small) query side.
 *  - LSH: bucket ids map-side, candidates via equi-join on
 *    (table, bucket) — shuffle carries only matching buckets; AQE
 *    handles skewed buckets.
 *  - Grid: bounds from one partial-aggregated pass; cell key map-side;
 *    probe = equi-join on cell key over neighbor cells.
 */
object VectorSearch {

  /** Similarity column for one of the reference's four metrics. */
  def similarity(metric: String, a: Column, b: Column): Column = metric match {
    case "cosine"      => cosineSim(a, b)
    case "dot_product" => dotProduct(a, b)
    case "euclidean"   => euclideanSim(a, b)
    case "manhattan"   => manhattanSim(a, b)
    case other         => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** The query of a single-query operator, resolved on the driver:
    * `vec` (widened to doubles) feeds driver-side probe math, `qvec` is
    * the same vector as a literal of the frame's own `qvec` type, and
    * `extra` holds the values of the query-side columns the caller
    * asked [[bindQuery]] to evaluate alongside it. */
  private[graft] final case class BoundQuery(vec: Array[Double], qvec: Column, extra: Row)

  /** Resolve the one row of a single-query frame (a `qvec` column), and
    * `extra` columns over it, in one pass — None when the frame has no
    * row. A frame over a local relation (every VectorLibrary query
    * frame) resolves while planning, without a Spark job; any other
    * frame costs one job (a collect, not `head`, whose incremental
    * take can rescan a selective frame over several jobs). Several rows
    * are refused: one literal cannot stand for them, and the batch
    * twins are the multi-query path. */
  private[graft] def bindQuery(query: DataFrame, extra: Column*): Option[BoundQuery] = {
    val dt = query.schema("qvec").dataType
    val rows = query.select(col("qvec") +: extra: _*).collect()
    require(rows.length <= 1,
      "a single-query operator takes a one-row query frame; use its batch twin")
    rows.headOption.map { r =>
      val extras = Row.fromSeq(r.toSeq.tail)
      if (r.isNullAt(0)) BoundQuery(Array.empty, lit(null).cast(dt), extras)
      else {
        val vec = r.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toArray
        val qvec = dt match {
          case ArrayType(FloatType, _) => typedLit(r.getSeq[Float](0).toList)
          case _ => typedLit(vec.toList).cast(dt)
        }
        BoundQuery(vec, qvec, extras)
      }
    }
  }

  /** Bind `query` and build the search over it; a zero-row query frame
    * answers no hits. */
  private[graft] def withQuery(rows: DataFrame, query: DataFrame, idCol: String,
                               extra: Column*)(body: BoundQuery => DataFrame): DataFrame =
    bindQuery(query, extra: _*).fold(noHits(rows, idCol))(body)

  /** Zero-row (id, score) answer. */
  private[graft] def noHits(rows: DataFrame, idCol: String): DataFrame =
    rows.select(col(idCol), lit(0.0).as("score")).limit(0)

  /** The exact score every search reports: similarity to the bound
    * query vector, rounded to 6 dp. */
  private[graft] def scoreCol(metric: String, vecCol: String, qvec: Column): Column =
    round(similarity(metric, col(vecCol), qvec), 6).as("score")

  /** Exact top-k of `rows` against the bound query vector, ties by id
    * ascending — plans as one TakeOrderedAndProject over the scan. */
  private[graft] def rerank(rows: DataFrame, qvec: Column, idCol: String, vecCol: String,
                            k: Int, metric: String): DataFrame =
    rows.select(col(idCol), scoreCol(metric, vecCol, qvec))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Two-phase tail: the `n` best rows by `approx` (`highFirst` picks
    * the direction, ties by id ascending) resolve on the driver as a
    * bounded shortlist, pushed into the exact re-rank scan as an
    * In-filter — row-group point reads on an id-clustered layout,
    * where a semi-join would re-scan the full float column. */
  private[graft] def shortlistRerank(rows: DataFrame, approx: Column, highFirst: Boolean,
                                     n: Int, qvec: Column, idCol: String, vecCol: String,
                                     k: Int, metric: String): DataFrame = {
    val a = col("__approx")
    val ids = rows.select(col(idCol), approx.as("__approx"))
      .orderBy(if (highFirst) a.desc else a.asc, col(idCol).asc)
      .limit(n)
      .collect().map(_.get(0))
    if (ids.isEmpty) noHits(rows, idCol)
    else rerank(rows.filter(col(idCol).isin(ids: _*)), qvec, idCol, vecCol, k, metric)
  }

  /**
   * Exact (Flat) top-k against a single query row.
   * `query` must be a 1-row frame with a `qvec` column.
   */
  def knnFlat(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
              k: Int, metric: String): DataFrame =
    withQuery(corpus, query, idCol)(q => rerank(corpus, q.qvec, idCol, vecCol, k, metric))

  /**
   * Batched exact top-k: one result group per query row. Queries are
   * broadcast; ranking via window at test scale (scale path: partial
   * top-k aggregate, SURVEY.md paragraph 4).
   */
  def knnBatch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int, metric: String): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /**
   * Batched top-k via partial aggregation (the 100 TB path): a bounded
   * heap per (query x partition) combines map-side, so the shuffle
   * carries k rows per query per partition instead of the whole scored
   * cross product. Same output contract as knnBatch.
   */
  /** Batch exact k-NN for arbitrary id types: broadcast queries over
    * one corpus scan, per-query bounded top-k (native heap aggregate
    * for long ids, a rank window over the scored rows otherwise). */
  def knnBatchGeneric(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, metric: String = "cosine"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  def knnBatchAgg(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, metric: String): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col("query_id"), col(idCol).cast("long").as("id"),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    scored.groupBy(col("query_id"))
      .agg(topKAgg(col("id"), col("score"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "pair")))
      .select(col("query_id"), col("pair.id").as(idCol), col("pair.score").as("score"),
        (col("r0") + 1).cast("int").as("rank"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /**
   * Fused batched top-k: one corpus pass with |queries| bounded heaps
   * per partition (mapPartitions — justified as the last-resort tier
   * of SURVEY.md's preference order because the per-row fan-out to
   * every query cannot be expressed without materializing the
   * |corpus| x |queries| cross product). Partials are k rows per
   * (query x partition); the global merge is a tiny native top-k
   * aggregate. Output contract identical to knnBatch/knnBatchAgg.
   */
  def knnBatchFused(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, metric: String): DataFrame = {
    import graft.functions.VectorOps
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("query_id").cast("long"), col("qvec")).collect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val kernel: (Array[Double], Array[Double]) => Double = metric match {
      case "cosine"      => VectorOps.cosineArr
      case "dot_product" => VectorOps.dotArr
      case "euclidean"   => (a, b) => 1.0 / (1.0 + VectorOps.l2Arr(a, b))
      case "manhattan"   => (a, b) => 1.0 / (1.0 + VectorOps.l1Arr(a, b))
      case other         => throw new IllegalArgumentException(s"unknown metric: $other")
    }
    val bc = spark.sparkContext.broadcast((qIds, qVecs))

    val partials = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vecs) = bc.value
        val heaps = Array.fill(ids.length)(new TopKBuffer(k))
        it.foreach { case (rowId, fv) =>
          val dv = new Array[Double](fv.length)
          var j = 0
          while (j < fv.length) { dv(j) = fv(j); j += 1 }
          var q = 0
          while (q < ids.length) {
            heaps(q).insert(rowId, VectorOps.roundTo(kernel(dv, vecs(q)), 6))
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          h.sortedDesc.map { case (id, s) => (ids(q), id, s) }
        }
      }
      .toDF("query_id", "id", "score")

    partials.groupBy(col("query_id"))
      .agg(graft.GraftFunctions.topKAgg(col("id"), col("score"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "pair")))
      .select(col("query_id"), col("pair.id").as(idCol), col("pair.score").as("score"),
        (col("r0") + 1).cast("int").as("rank"))
      .orderBy(col("query_id").asc, col("rank").asc)
  }

  /**
   * LSH approximate top-k: sign-random-projection buckets
   * (numTables x bitsPerTable), candidate = corpus row sharing any
   * table's bucket with the query, then exact re-rank of candidates.
   */
  def lshKnn(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
             k: Int, metric: String = "cosine",
             numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
             extraProbes: Int = 2): DataFrame = {
    // Ad-hoc (index-free) path: signatures are derived on the fly
    // through a generate, so the expensive bucket expression runs
    // EXACTLY ONCE per row (a filter formulation would re-substitute
    // it per referenced table). Explode carries only (id, tbl,
    // bucket); the embedding never rides through the join. With a
    // store, use lshKnnIndexed instead.
    withQuery(corpus, query, idCol) { q =>
      val corpusB = corpus
        .select(col(idCol),
          posexplode(lshBuckets(col(vecCol), numTables, bitsPerTable, seed))
            .as(Seq("tbl", "bucket")))
      val queryB = query.sparkSession.createDataFrame(
        probeBuckets(q.vec, numTables, bitsPerTable, seed, extraProbes)
          .zipWithIndex.flatMap { case (bs, t) => bs.map(b => (t, b)) }.toSeq)
        .toDF("tbl", "bucket")
      // Distinct candidate IDS (hash-aggregable scalars), then semi-join
      // the corpus. The probe side is a handful of literal rows and
      // stays broadcast; the candidate set is NOT hinted (it grows with
      // corpus size and hot buckets — AQE picks the join strategy).
      val candIds = corpusB
        .join(broadcast(queryB), Seq("tbl", "bucket"))
        .select(col(idCol)).distinct()
      rerank(corpus.join(candIds, Seq(idCol), "left_semi"), q.qvec, idCol, vecCol, k, metric)
    }
  }

  /** Multi-probe buckets of the query vector: per table, the main
    * bucket plus the lowest-margin bit-flip variants, deduplicated. */
  private[graft] def probeBuckets(qv: Array[Double], numTables: Int, bitsPerTable: Int,
                                  seed: Long, extraProbes: Int): Array[Array[Int]] = {
    import graft.functions.TextHash
    val flat = TextHash.hyperplaneProbesArr(qv, numTables, bitsPerTable, extraProbes, seed)
    val perTable = 1 + extraProbes
    Array.tabulate(numTables)(t =>
      flat.slice(t * perTable, (t + 1) * perTable).distinct)
  }

  /**
   * LSH probe against a PRE-BUILT index: `indexed` already carries the
   * per-table bucket ids (materialized at ingest — VectorLibrary
   * writes them next to the vectors), so the candidate test compiles
   * to a pure integer predicate over stored columns:
   *
   *   bucket[1] IN (probes of table 1) OR ... OR bucket[T] IN (...)
   *
   * One map-side scan, zero shuffles, zero joins before the top-k —
   * signatures are never recomputed, and no candidate set ever
   * materializes (measured 0.2-0.5s vs 2.6s for the explode+semi-join
   * formulation at 1M vectors). At 100 TB the same predicate prunes
   * harder when the store is sorted or partitioned by a leading
   * bucket (the IVF layout in Stress shows the partition-pruned
   * variant of this plan).
   */
  def lshKnnIndexed(indexed: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                    bucketsCol: String, k: Int, metric: String = "cosine",
                    numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                    extraProbes: Int = 2): DataFrame = {
    withQuery(indexed, query, idCol) { q =>
      val candidate = probeBuckets(q.vec, numTables, bitsPerTable, seed, extraProbes)
        .zipWithIndex.map { case (bs, t) =>
          element_at(col(bucketsCol), t + 1).isin(bs.map(Int.box).toSeq: _*)
        }.reduce(_ || _)
      rerank(indexed.filter(candidate), q.qvec, idCol, vecCol, k, metric)
    }
  }

  /**
   * Batch LSH top-k: N queries against the bucketed corpus in ONE
   * pass. Corpus signatures are computed once (map-side explode of
   * (id, tbl, bucket) — vectors never ride the bucket join); each
   * query contributes its multi-probe (tbl, bucket) pairs via the
   * graft_lsh_probes kernel; candidates are the distinct (query, id)
   * pairs sharing any bucket. Candidate vectors are fetched once per
   * pair (not per bucket hit), scored against the broadcast query set,
   * and ranked per query by the bounded top-k aggregate — the shuffle
   * after scoring carries k-row partials, never the full score matrix.
   */
  def lshKnnBatch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, metric: String = "cosine",
                  numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                  extraProbes: Int = 2): DataFrame = {
    val corpusB = corpus.select(col(idCol),
      posexplode(lshBuckets(col(vecCol), numTables, bitsPerTable, seed))
        .as(Seq("tbl", "bucket")))
    batchFromBuckets(corpus, corpusB, queries, idCol, vecCol, k, metric,
      numTables, bitsPerTable, seed, extraProbes)
  }

  /** Batch LSH against PRE-STORED signatures: same shape as
    * `lshKnnBatch`, but the bucket side explodes the materialized
    * `bucketsCol` written at ingest instead of recomputing the
    * signature kernel over every vector — the batch twin of
    * `lshKnnIndexed`. */
  def lshKnnBatchIndexed(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, bucketsCol: String, k: Int,
                         metric: String = "cosine",
                         numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                         extraProbes: Int = 2): DataFrame = {
    val corpusB = corpus.select(col(idCol),
      posexplode(col(bucketsCol)).as(Seq("tbl", "bucket")))
    batchFromBuckets(corpus.select(col(idCol), col(vecCol)), corpusB, queries,
      idCol, vecCol, k, metric, numTables, bitsPerTable, seed, extraProbes)
  }

  /** Shared tail of the batch LSH paths: bucket join → distinct
    * (query, id) candidates → one vector fetch per pair → exact score
    * → bounded per-query top-k. */
  private def batchFromBuckets(corpus: DataFrame, corpusB: DataFrame,
                               queries: DataFrame, idCol: String, vecCol: String,
                               k: Int, metric: String, numTables: Int,
                               bitsPerTable: Int, seed: Long,
                               extraProbes: Int): DataFrame = {
    val perTable = 1 + extraProbes
    val queryB = queries.select(col("query_id"),
      posexplode(lshProbes(col("qvec"), numTables, bitsPerTable, extraProbes, seed))
        .as(Seq("p", "bucket")))
      .select(col("query_id"), (col("p") / perTable).cast("int").as("tbl"), col("bucket"))
      .distinct()
    val cand = corpusB.join(broadcast(queryB), Seq("tbl", "bucket"))
      .select(col("query_id"), col(idCol)).distinct()
    val scored = corpus.join(cand, idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /** Per-query bounded top-k finisher over (query_id, id, score) rows:
    * the native heap aggregate for long ids (k-row shuffle partials);
    * a rank window otherwise (string ids — still k rows out, and the
    * window shuffles only the scored candidates, never the corpus). */
  private[graft] def finishPerQueryTopK(scored: DataFrame, idCol: String, k: Int,
                                        ordered: Boolean = true): DataFrame = {
    val ranked =
      if (scored.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
        scored.groupBy(col("query_id"))
          .agg(graft.GraftFunctions.topKAgg(col(idCol), col("score"), k).as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("r0", "pair")))
          .select(col("query_id"), col("pair.id").as(idCol), col("pair.score").as("score"),
            (col("r0") + 1).cast("int").as("rank"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("score").desc, col(idCol).asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      }
    if (ordered) ranked.orderBy(col("query_id").asc, col("rank").asc) else ranked
  }

  /**
   * LSH probe against a bucket-PARTITIONED exploded index table:
   * rows (id, vector) stored under (tbl, bucket) PARTITION columns
   * (VectorLibrary.buildPartitionedIndex writes this layout). The
   * probe predicate references only partition columns, so Catalyst
   * prunes at planning time — of numTables * 2^bits directories the
   * scan opens only numTables * (1 + extraProbes), i.e. ~1/100th of
   * the index regardless of corpus size. This is the 100 TB serving
   * shape: `lshKnnIndexed`'s column probe still reads every row's
   * bucket array once; here the non-probed data is never opened.
   *
   * A candidate caught by several probed tables appears once per hit;
   * occurrences are deduplicated AFTER scoring via a max aggregate on
   * scalar (id, score) pairs — hash-aggregable, map-side-combinable,
   * so no embedding array ever rides a shuffle. The score is
   * occurrence-invariant, making max a pure dedup.
   */
  def lshKnnPartitioned(index: DataFrame, query: DataFrame, idCol: String,
                        vecCol: String, k: Int, metric: String = "cosine",
                        numTables: Int = 8, bitsPerTable: Int = 8, seed: Long = 42L,
                        extraProbes: Int = 2): DataFrame = {
    withQuery(index, query, idCol) { q =>
      dedupTopK(index.filter(partitionProbe(q.vec, numTables, bitsPerTable, seed, extraProbes))
        .select(col(idCol), scoreCol(metric, vecCol, q.qvec)), idCol, k)
    }
  }

  /** Planning-time pruning predicate of the bucket-partitioned index:
    * the probed (tbl, bucket) directories of one query vector. */
  private def partitionProbe(qv: Array[Double], numTables: Int, bitsPerTable: Int,
                             seed: Long, extraProbes: Int): Column =
    probeBuckets(qv, numTables, bitsPerTable, seed, extraProbes)
      .zipWithIndex.map { case (bs, t) =>
        col("tbl") === t && col("bucket").isin(bs.map(Int.box).toSeq: _*)
      }.reduce(_ || _)

  /** Top-k over (id, score) rows where one id can occur several times
    * (multi-table hits) with the same score: max is a pure dedup. */
  private[graft] def dedupTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.groupBy(col(idCol)).agg(max(col("score")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /**
   * Fully index-resident two-phase probe of the bucket-PARTITIONED
   * index: phase 1 ranks the pruned directories' rows by integer dot
   * over the stored int8 `codes` column ONLY (column pruning keeps the
   * float vectors on disk — the phase-1 I/O is ~1/4 of the float
   * probe's), phase 2 re-reads the SAME pruned directories for just
   * the rerankFactor*k survivors' floats and ranks exactly. The store
   * is never touched: both phases live entirely inside the index
   * partitions, so at 100 TB a probe costs two pruned scans of
   * ~numTables*(1+extraProbes) directories — the second one
   * semi-joined down to the candidate ids.
   *
   * Multi-table duplicate hits dedup BEFORE the phase-1 top-k (max on
   * the occurrence-invariant ascore), so the candidate budget is spent
   * on distinct vectors.
   */
  def lshKnnPartitionedQuantized(index: DataFrame, query: DataFrame, idCol: String,
                                 vecCol: String, codesCol: String, k: Int,
                                 metric: String = "cosine",
                                 numTables: Int = 8, bitsPerTable: Int = 8,
                                 seed: Long = 42L, extraProbes: Int = 2,
                                 rerankFactor: Int = 4): DataFrame = {
    withQuery(index, query, idCol) { q =>
      val pruned = index.filter(partitionProbe(q.vec, numTables, bitsPerTable, seed, extraProbes))
      // Phase 2 stays a LAZY pruned semi-join here (unlike the
      // binary/PQ/IVF-PQ probes, which switched to driver-resolved
      // In-filter point reads): both phases already read only the
      // probed (tbl, bucket) directories, whose occupancy the
      // bits-scaling ingest rule holds constant in corpus size — so the
      // semi-join's float I/O is already corpus-independent, and the
      // one-job plan skips a driver sync per query.
      val candIds = pruned
        .select(col(idCol), quantizedDot(col(codesCol), quantizedQuery(q.qvec)).as("ascore"))
        .groupBy(col(idCol)).agg(max(col("ascore")).as("ascore"))
        .orderBy(col("ascore").desc, col(idCol).asc)
        .limit(k * rerankFactor)
        .select(col(idCol))
      dedupTopK(pruned.join(candIds, Seq(idCol), "left_semi")
        .select(col(idCol), scoreCol(metric, vecCol, q.qvec)), idCol, k)
    }
  }

  /** The int8 code of the query vector (constant-folded while planning
    * when the vector is a literal). */
  private def quantizedQuery(qvec: Column): Column = quantizeVec(l2Normalize(qvec))

  /**
   * Batch probe of the bucket-PARTITIONED index: the UNION of all
   * queries' probe partitions prunes the scan (still literal
   * (tbl, bucket) predicates, so pruning happens at planning time),
   * then a broadcast join on (tbl, bucket) assigns each surviving row
   * to the queries that probed it. Scores dedup per (query, id) via a
   * map-side max, then the bounded top-k aggregate per query. Serving
   * amortizes: Q queries cost one pruned scan of their combined
   * partitions, not Q scans.
   */
  def lshKnnPartitionedBatch(index: DataFrame, queries: DataFrame, idCol: String,
                             vecCol: String, k: Int, metric: String = "cosine",
                             numTables: Int = 8, bitsPerTable: Int = 8,
                             seed: Long = 42L, extraProbes: Int = 2): DataFrame = {
    finishPerQueryTopK(
      partitionedBatchScores(index, queries, idCol, vecCol, metric,
        numTables, bitsPerTable, seed, extraProbes),
      idCol, k)
  }

  /** Shared scoring stage of the partitioned batch probe: union-pruned
    * scan, pair assignment, exact scores deduplicated per (query, id).
    * Returns (query_id, id, score); callers attach a top-k finisher
    * (topKAgg for long ids, a rank window for string ids). */
  private[graft] def partitionedBatchScores(index: DataFrame, queries: DataFrame,
                                            idCol: String, vecCol: String, metric: String,
                                            numTables: Int, bitsPerTable: Int,
                                            seed: Long, extraProbes: Int): DataFrame = {
    import graft.functions.TextHash
    val spark = index.sparkSession
    // Driver-side probe resolve per query (the query set is small by
    // contract — it broadcasts below).
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    require(qRows.nonEmpty, "lshKnnPartitionedBatch needs at least one query")
    val perTable = 1 + extraProbes
    val qProbePairs = qRows.flatMap { r =>
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      val flat = TextHash.hyperplaneProbesArr(qv, numTables, bitsPerTable, extraProbes, seed)
      (0 until numTables).flatMap(t =>
        flat.slice(t * perTable, (t + 1) * perTable).distinct
          .map(b => (r.getLong(0), t, b)))
    }.distinct.toSeq
    val union = qProbePairs.map { case (_, t, b) => (t, b) }.distinct
      .groupBy(_._1).map { case (t, bs) =>
        col("tbl") === t && col("bucket").isin(bs.map(p => Int.box(p._2)): _*)
      }.reduce(_ || _)
    import spark.implicits._
    val pairFrame = qProbePairs.toDF("query_id", "tbl", "bucket")
    index.filter(union)
      .join(broadcast(pairFrame), Seq("tbl", "bucket"))
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
      .groupBy(col("query_id"), col(idCol))
      .agg(max(col("score")).as("score"))
  }

  /**
   * Grid approximate top-k on a low-dimensional prefix subspace
   * (the reference's uniform grid; restricted to `gridDims` leading
   * dimensions because a uniform grid is vacuous in high dimensions —
   * algorithms.py:537-563 applies the same escape hatch).
   * Cells are `cellsPerDim` quantiles of [min,max] per dimension;
   * probe = query cell + all +/-1 neighbor cells, exact re-rank.
   */
  def gridKnn(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
              k: Int, metric: String = "euclidean",
              gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    withQuery(corpus, query, idCol) { q =>
      val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
      // The query side is one row: resolve its cell on the driver and
      // probe the corpus with literal neighbor-cell keys (a tiny IN
      // filter pushed into the scan — no generated 81-way expression).
      val probeKeys = queryProbeKeys(q.vec, lo, hi, gridDims, cellsPerDim)
      rerank(corpus.withColumn("cell", cellKeyCol(col(vecCol), lo, hi, cellsPerDim))
        .filter(col("cell").isin(probeKeys: _*)), q.qvec, idCol, vecCol, k, metric)
    }
  }

  /** One partial-aggregated pass for per-dimension grid bounds. */
  private[graft] def gridBounds(corpus: DataFrame, vecCol: String,
                                gridDims: Int): (Array[Double], Array[Double]) = {
    val bounds = corpus
      .select(posexplode(slice(col(vecCol), 1, gridDims)).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
      .collect().sortBy(_.getInt(0))
    (bounds.map(r => r.getFloat(1).toDouble), bounds.map(r => r.getFloat(2).toDouble))
  }

  /** Clamped cell key of a stored vector, as "c0,c1,...". */
  private[graft] def cellKeyCol(vc: Column, lo: Array[Double], hi: Array[Double],
                                cellsPerDim: Int): Column =
    concat_ws(",", lo.indices.map(cellCol(vc, lo, hi, cellsPerDim, _)): _*)

  /** Driver-resolved neighbor-cell probe keys for one query vector. */
  private def queryProbeKeys(qv: Seq[Double], lo: Array[Double], hi: Array[Double],
                             gridDims: Int, cellsPerDim: Int): Seq[String] = {
    val qCells = qCellsOf(qv, lo, hi, gridDims, cellsPerDim)
    val offsets = Seq.fill(gridDims)(Seq(-1, 0, 1))
      .foldLeft(Seq(Seq.empty[Int]))((acc, s) => acc.flatMap(p => s.map(p :+ _)))
    offsets.map(off =>
      (0 until gridDims).map(d => qCells(d) + off(d)).mkString(",")).distinct
  }

  /**
   * Expanding-radius grid probe (reference GridIndex.search,
   * algorithms.py:646-668): the probed neighborhood starts at the
   * query cell and widens one shell at a time until it holds >= 2k
   * candidates or the radius reaches `maxRadius`. The radius-r box is
   * exactly the cells at Chebyshev distance <= r from the query cell,
   * so instead of enumerating an O((2r+1)^dims) neighbor-key list per
   * radius, the corpus gets a map-side `cheb` column and the expansion
   * becomes: one tiny histogram aggregate (counts for maxRadius+1
   * groups), the radius choice on the driver, one pruned re-rank scan.
   * Two jobs regardless of how far the probe expands — the
   * data-dependent loop never launches per-radius scans.
   *
   * `gridKnn` (the facade default) is the fixed ±1 probe; this variant
   * restores the reference's guarantee of reaching k results on
   * sparsely-populated neighborhoods.
   */
  def gridKnnExpanding(corpus: DataFrame, query: DataFrame, idCol: String,
                       vecCol: String, k: Int, metric: String = "euclidean",
                       gridDims: Int = 4, cellsPerDim: Int = 4,
                       maxRadius: Int = 3): DataFrame = {
    require(gridDims >= 2, "gridKnnExpanding needs at least 2 grid dimensions")
    withQuery(corpus, query, idCol) { q =>
      val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
      val qCells = qCellsOf(q.vec, lo, hi, gridDims, cellsPerDim)
      val chebCol = greatest((0 until gridDims).map(d =>
        abs(cellCol(col(vecCol), lo, hi, cellsPerDim, d) - lit(qCells(d)))): _*)
      val corpusC = corpus.withColumn("cheb", chebCol)
      val hist = corpusC.filter(col("cheb") <= maxRadius)
        .groupBy(col("cheb")).count().collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      val cum = (0 to maxRadius).map(r => (0 to r).map(hist.getOrElse(_, 0L)).sum)
      val radius = (0 to maxRadius).find(r => cum(r) >= 2L * k).getOrElse(maxRadius)
      rerank(corpusC.filter(col("cheb") <= radius), q.qvec, idCol, vecCol, k, metric)
    }
  }

  /**
   * Batch twin of [[gridKnnExpanding]]: every query gets its own
   * radius (smallest with >= 2k candidates, capped at maxRadius) from
   * ONE histogram pass — per-(query, cheb) counts against the
   * broadcast query-cell table — then one scoring pass filters each
   * row to the queries whose chosen box contains it and feeds the
   * bounded per-query top-k. Two corpus passes total for any Q, same
   * as the single-query variant.
   */
  def gridKnnExpandingBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                            vecCol: String, k: Int, metric: String = "euclidean",
                            gridDims: Int = 4, cellsPerDim: Int = 4,
                            maxRadius: Int = 3): DataFrame = {
    require(gridDims >= 2, "gridKnnExpandingBatch needs at least 2 grid dimensions")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    val corpusC = corpus.withColumn("__cells",
      array((0 until gridDims).map(cellCol(col(vecCol), lo, hi, cellsPerDim, _)): _*))
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    require(qRows.nonEmpty, "gridKnnExpandingBatch needs at least one query")
    val qCellRows = qRows.map(r =>
      (r.getLong(0), qCellsOf(floats(r, 1), lo, hi, gridDims, cellsPerDim))).toSeq
    val qCellFrame = qCellRows.toDF("query_id", "qcells")
    val cheb = greatest((0 until gridDims).map(d =>
      abs(element_at(col("__cells"), d + 1) - element_at(col("qcells"), d + 1))): _*)
    val hists = corpusC.crossJoin(broadcast(qCellFrame))
      .select(col("query_id"), cheb.as("cheb"))
      .filter(col("cheb") <= maxRadius)
      .groupBy(col("query_id"), col("cheb")).count().collect()
      .groupBy(_.getLong(0))
    val radii = qCellRows.map { case (qid, _) =>
      val hist = hists.get(qid).toSeq.flatten
        .map(r => (r.getInt(1), r.getLong(2))).toMap
      val cum = (0 to maxRadius).map(r => (0 to r).map(hist.getOrElse(_, 0L)).sum)
      (qid, (0 to maxRadius).find(r => cum(r) >= 2L * k).getOrElse(maxRadius))
    }
    val qSide = qCellFrame
      .join(radii.toDF("query_id", "radius"), "query_id")
      .join(queries, "query_id")
    val scored = corpusC.crossJoin(broadcast(qSide))
      .filter(cheb <= col("radius"))
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /** Clamped grid coordinate of a stored vector along dimension `d`. */
  private def cellCol(vc: Column, lo: Array[Double], hi: Array[Double],
                      cellsPerDim: Int, d: Int): Column = {
    val range = math.max(hi(d) - lo(d), 1e-12)
    least(greatest(floor((vc.getItem(d) - lit(lo(d))) / lit(range) * cellsPerDim),
      lit(0)), lit(cellsPerDim - 1)).cast("int")
  }

  /** A batch query row's float vector, widened to doubles. */
  private def floats(r: Row, i: Int): Seq[Double] = r.getSeq[Float](i).map(_.toDouble).toSeq

  /** Query cell coordinates under frozen bounds (clamped). */
  private def qCellsOf(qv: Seq[Double], lo: Array[Double], hi: Array[Double],
                       gridDims: Int, cellsPerDim: Int): Seq[Int] =
    (0 until gridDims).map { d =>
      val range = math.max(hi(d) - lo(d), 1e-12)
      math.min(math.max(math.floor((qv(d) - lo(d)) / range * cellsPerDim).toInt, 0),
        cellsPerDim - 1)
    }

  /** Expanding radius + probe cells from a per-cell histogram: the
    * smallest Chebyshev radius whose cumulative occupancy reaches 2k
    * (capped), and the OCCUPIED cells inside it. */
  private def radiusProbe(cellCounts: Seq[(String, Long)], qCells: Seq[Int],
                          k: Int, maxRadius: Int): Seq[String] = {
    val withCheb = cellCounts.map { case (cell, n) =>
      val coords = cell.split(",").map(_.toInt)
      (cell, coords.indices.map(d => math.abs(coords(d) - qCells(d))).max, n)
    }
    val cum = (0 to maxRadius).map(r =>
      withCheb.collect { case (_, cheb, n) if cheb <= r => n }.sum)
    val radius = (0 to maxRadius).find(r => cum(r) >= 2L * k).getOrElse(maxRadius)
    withCheb.collect { case (cell, cheb, _) if cheb <= radius => cell }
  }

  /**
   * Expanding-radius grid probe against a PRE-BUILT cell-partitioned
   * grid index (rows (id, vector) under a `cell` partition column,
   * bounds fitted at build time — the reference keeps the fitted grid
   * in its index object, algorithms.py:443-686, and so does the
   * library). Identical results to [[gridKnnExpanding]] under the same
   * bounds, but NO corpus aggregate before the probe: the radius comes
   * from per-cell occupancy counts — a partition-column-only aggregate
   * over at most cellsPerDim^gridDims groups (row-group stats, not a
   * data scan) — and the probe scan itself is partition-pruned to the
   * chosen cells at planning time. At 100 TB the query-time I/O is the
   * probed cells, never the corpus.
   */
  /** Per-cell occupancy of a cell-partitioned grid index: at most
    * cellsPerDim^gridDims rows, read from the partition column only.
    * Callers serving many queries should compute this once per index
    * generation and pass it to the probes below. */
  def gridCellCounts(index: DataFrame): Seq[(String, Long)] =
    index.groupBy(col("cell")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  def gridKnnIndexed(index: DataFrame, lo: Array[Double], hi: Array[Double],
                     query: DataFrame, idCol: String, vecCol: String, k: Int,
                     metric: String = "euclidean", gridDims: Int = 4,
                     cellsPerDim: Int = 4, maxRadius: Int = 3,
                     countsOpt: Option[Seq[(String, Long)]] = None): DataFrame = {
    withQuery(index, query, idCol) { q =>
      val qCells = qCellsOf(q.vec, lo, hi, gridDims, cellsPerDim)
      val counts = countsOpt.getOrElse(gridCellCounts(index))
      val probe = radiusProbe(counts, qCells, k, maxRadius)
      rerank(index.filter(col("cell").isin(probe: _*)), q.qvec, idCol, vecCol, k, metric)
    }
  }

  /** Batch twin of [[gridKnnIndexed]]: every query's radius resolves
    * from the SAME per-cell histogram collect; the scan reads the
    * union of all queries' probe cells once (planning-time pruning), a
    * broadcast (query_id, cell) table assigns survivors, bounded
    * per-query top-k ranks. */
  def gridKnnIndexedBatch(index: DataFrame, lo: Array[Double], hi: Array[Double],
                          queries: DataFrame, idCol: String, vecCol: String, k: Int,
                          metric: String = "euclidean", gridDims: Int = 4,
                          cellsPerDim: Int = 4, maxRadius: Int = 3,
                          countsOpt: Option[Seq[(String, Long)]] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val counts = countsOpt.getOrElse(gridCellCounts(index))
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    require(qRows.nonEmpty, "gridKnnIndexedBatch needs at least one query")
    val pairs = qRows.flatMap { r =>
      val qCells = qCellsOf(floats(r, 1), lo, hi, gridDims, cellsPerDim)
      radiusProbe(counts, qCells, k, maxRadius).map(cell => (r.getLong(0), cell))
    }.toSeq
    val pairFrame = pairs.toDF("query_id", "cell")
    val scored = index.filter(col("cell").isin(pairs.map(_._2).distinct: _*))
      .join(broadcast(pairFrame), "cell")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * Batch grid top-k: N queries against the cell-keyed corpus in one
   * pass. Probe keys resolve driver-side per query; the scan filters
   * on the UNION of all queries' neighbor cells (one literal IN), a
   * broadcast (query_id, cell) table assigns survivors to queries
   * (each corpus row has exactly ONE cell, so no per-pair dedup is
   * needed), and the bounded per-query top-k finisher ranks.
   */
  def gridKnnBatch(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, metric: String = "euclidean",
                   gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (lo, hi) = gridBounds(corpus, vecCol, gridDims)
    val corpusC = corpus.withColumn("cell",
      cellKeyCol(col(vecCol), lo, hi, cellsPerDim))
    val qRows = queries.select(col("query_id"), col("qvec")).collect()
    val pairs = qRows.flatMap { r =>
      queryProbeKeys(floats(r, 1), lo, hi, gridDims, cellsPerDim)
        .map(cell => (r.getLong(0), cell))
    }.toSeq
    val pairFrame = pairs.toDF("query_id", "cell")
    val scored = corpusC.filter(col("cell").isin(pairs.map(_._2).distinct: _*))
      .join(broadcast(pairFrame), "cell")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * Metadata-filtered exact k-NN (the reference's per-library search
   * generalized to arbitrary predicates): the filter lands in the scan
   * (partition/row-group pruning at 100 TB), similarity only runs on
   * survivors.
   */
  def knnFiltered(corpus: DataFrame, query: DataFrame, predicate: Column,
                  idCol: String, vecCol: String, k: Int, metric: String): DataFrame =
    knnFlat(corpus.filter(predicate), query, idCol, vecCol, k, metric)

  /**
   * Threshold (range) search: every vector with similarity >= minScore.
   * Unlike top-k there is no global ordering bottleneck — pure map-side
   * filter, arbitrarily parallel.
   */
  def rangeSearch(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                  minScore: Double, metric: String): DataFrame =
    withQuery(corpus, query, idCol) { q =>
      corpus.select(col(idCol), scoreCol(metric, vecCol, q.qvec))
        .filter(col("score") >= minScore)
        .orderBy(col("score").desc, col(idCol).asc)
    }

  /**
   * Quantized two-phase search: int8 approximate scan (4x less data,
   * integer inner loop) takes the top rerankFactor*k candidates, then
   * exact similarity on the float originals ranks the final k.
   * Vectors are L2-normalized before quantization so the approximate
   * dot tracks cosine.
   */
  def knnQuantized(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                   k: Int, metric: String = "cosine", rerankFactor: Int = 4): DataFrame = {
    // Ad-hoc path: codes derived on the fly (one quantize per row, same
    // scan that reads the floats), then the probe is identical to the
    // indexed path. With a store, use knnQuantizedIndexed on codes
    // materialized at ingest instead.
    val indexed = corpus.withColumn("__codes", quantizeVec(l2Normalize(col(vecCol))))
    knnQuantizedIndexed(indexed, query, idCol, vecCol, "__codes", k, metric, rerankFactor)
  }

  /**
   * Quantized two-phase search against PRE-BUILT codes: phase 1 ranks
   * by integer dot over the stored (scale, int8 bytes) column ONLY —
   * a 4x narrower scan than the float column, and the float vectors
   * never ride through the top-k sort. Phase 2 fetches floats for just
   * the rerankFactor*k survivors (a semi-join, i.e. row-group-prunable
   * point reads at scale) and re-ranks exactly.
   */
  def knnQuantizedIndexed(indexed: DataFrame, query: DataFrame, idCol: String,
                          vecCol: String, codesCol: String, k: Int,
                          metric: String = "cosine", rerankFactor: Int = 4): DataFrame = {
    withQuery(indexed, query, idCol) { q =>
      shortlistRerank(indexed, quantizedDot(col(codesCol), quantizedQuery(q.qvec)),
        highFirst = true, k * rerankFactor, q.qvec, idCol, vecCol, k, metric)
    }
  }

  /**
   * Batch two-phase quantized top-k: ONE int8 scan scores every query
   * (codes never leave the map side — the phase-1 shuffle carries
   * k*rerankFactor (id, ascore) partials per query per partition via
   * the bounded heap), then the union of all candidate sets joins the
   * float column once for the exact per-query re-rank.
   */
  def knnQuantizedBatch(indexed: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, codesCol: String, k: Int,
                        metric: String = "cosine", rerankFactor: Int = 4): DataFrame = {
    val queryQ = queries.select(col("query_id"),
      quantizeVec(l2Normalize(col("qvec"))).as("qqv"))
    val phase1 = indexed.select(col(idCol), col(codesCol).as("codes"))
      .crossJoin(broadcast(queryQ))
      .select(col("query_id"), col(idCol),
        quantizedDot(col("codes"), col("qqv")).cast("double").as("score"))
    val cand = finishPerQueryTopK(phase1, idCol, k * rerankFactor, ordered = false)
      .select(col("query_id"), col(idCol))
    val scored = indexed.join(broadcast(cand), idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * Binary (1-bit) quantized two-phase search: phase 1 ranks by
   * Hamming distance over PACKED SIGN BITS — for a 64-dim embedding
   * the entire code is ONE long (32x narrower than the float column),
   * and the kernel is XOR + popcount, the cheapest similarity that
   * exists. Sign agreement on L2-normalized vectors is 1-bit
   * random-projection LSH with axis-aligned planes, so the Hamming
   * shortlist correlates with angular rank; phase 2 re-ranks the
   * rerankFactor*k survivors exactly on the floats. Hamming ties are
   * broken by id ascending (ties are COMMON with 64-bit codes — the
   * determinism contract matters more here than anywhere else).
   * Reference analog: the quantization rung below int8
   * (vector_db/similarity.py scores full floats; this is the scale
   * path its in-memory design never needed).
   */
  def knnBinary(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                k: Int, metric: String = "cosine", rerankFactor: Int = 8): DataFrame = {
    val indexed = corpus.withColumn("__bits", bitPack(col(vecCol)))
    knnBinaryIndexed(indexed, query, idCol, vecCol, "__bits", k, metric, rerankFactor)
  }

  /** Binary search against PRE-BUILT packed codes: the phase-1 scan
    * reads the codes column only (8 bytes/row at 64 dims); floats are
    * fetched for just the shortlist as an In-filter point read.
    * [[knnBinaryBatch]] is the multi-query path. */
  def knnBinaryIndexed(indexed: DataFrame, query: DataFrame, idCol: String,
                       vecCol: String, codesCol: String, k: Int,
                       metric: String = "cosine", rerankFactor: Int = 8): DataFrame = {
    withQuery(indexed, query, idCol) { q =>
      shortlistRerank(indexed, bitHamming(col(codesCol), bitPack(q.qvec)),
        highFirst = false, k * rerankFactor, q.qvec, idCol, vecCol, k, metric)
    }
  }

  /** Batch binary top-k: ONE codes scan serves every query (phase-1
    * shuffle carries k*rerankFactor bounded-heap partials per query
    * per partition, never the corpus), then the union of candidate
    * sets joins the float column once for the exact per-query
    * re-rank. Heap scores are negated Hamming distances so the
    * shared descending-heap contract applies unchanged. */
  def knnBinaryBatch(indexed: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, codesCol: String, k: Int,
                     metric: String = "cosine", rerankFactor: Int = 8): DataFrame = {
    val queryB = queries.select(col("query_id"), bitPack(col("qvec")).as("qbits"))
    val phase1 = indexed.select(col(idCol), col(codesCol).as("bits"))
      .crossJoin(broadcast(queryB))
      .select(col("query_id"), col(idCol),
        (-bitHamming(col("bits"), col("qbits")).cast("double")).as("score"))
    // The union of candidate ids is bounded (Q * k * rerankFactor):
    // resolve it driver-side and push it into the float scan as an
    // In-filter (row-group point reads on an id-clustered store); the
    // broadcast pair join then only attributes survivors to queries.
    // The pair frame is pinned — it feeds the ids collect AND the
    // attribution join.
    val cand = graft.GraftFunctions.pin(
      finishPerQueryTopK(phase1, idCol, k * rerankFactor, ordered = false)
        .select(col("query_id"), col(idCol)))
    val ids = cand.select(col(idCol)).distinct().collect().map(_.get(0))
    if (ids.isEmpty)
      return indexed.limit(0).crossJoin(broadcast(queries))
        .select(col("query_id"), col(idCol), lit(0.0).as("score"),
          lit(0).as("rank"))
    val scored = indexed.filter(col(idCol).isin(ids: _*))
      .join(broadcast(cand), idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    finishPerQueryTopK(scored, idCol, k)
  }

  /**
   * Accuracy self-audit of the binary rung: recall@k of the Hamming
   * shortlist + exact re-rank versus the exact scan, swept over
   * rerank factors — the "how wide must the shortlist be" dial a user
   * tunes before trusting 1-bit codes at scale. ONE codes scan at the
   * DEEPEST factor serves every swept factor (shallower shortlists
   * are prefixes of the deepest ranking — same single-scan shape as
   * the IVF/IVF-PQ sweeps); candidates fan to the factors whose
   * window admits them via a composite (query, factor) heap key.
   */
  def binaryRecallSweep(indexed: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, codesCol: String, k: Int,
                        factors: Seq[Int] = Seq(2, 4, 8),
                        metric: String = "cosine"): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val sweep = factors.distinct.sorted
    require(sweep.nonEmpty && sweep.head >= 1 && sweep.last < 1000,
      "rerank factors must be in [1, 999]")
    // composite-key fan (qid*1000 + factor) requires NON-NEGATIVE
    // numeric query ids — the same contract as the IVF/IVF-PQ sweeps
    // (DIV truncates toward zero for negatives while pmod stays
    // positive, which would cross-attribute results)
    require(queries.schema("query_id").dataType ==
        org.apache.spark.sql.types.LongType,
      "binaryRecallSweep needs long query ids (non-negative)")
    // Enforce the documented non-negativity at runtime: the query set
    // is small by contract, so this is one tiny aggregate — without it
    // a negative id silently cross-attributes results (DIV truncates
    // toward zero while pmod stays positive).
    val minQ = queries.agg(min(col("query_id"))).head
    require(minQ.isNullAt(0) || minQ.getLong(0) >= 0L,
      "binaryRecallSweep needs non-negative query ids")
    val qBits = queries.select(col("query_id"), bitPack(col("qvec")).as("qbits"))
    val phase1 = indexed.select(col(idCol), col(codesCol).as("bits"))
      .crossJoin(broadcast(qBits))
      .select(col("query_id"), col(idCol),
        (-bitHamming(col("bits"), col("qbits")).cast("double")).as("score"))
    val short = finishPerQueryTopK(phase1, idCol, sweep.last * k, ordered = false)
      .select(col("query_id"), col(idCol), col("rank").as("h_rank"))
    val scored = indexed.join(broadcast(short), Seq(idCol))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col(idCol), col("h_rank"),
        round(similarity(metric, col(vecCol), col("qvec")), 6).as("score"))
    val atFactor = scored.select(col("query_id").as("qid"),
        explode(filter(typedLit(sweep.map(_.toLong)),
          f => f * k >= col("h_rank"))).as("f"),
        col(idCol), col("score"))
      .select((col("qid") * 1000 + col("f")).as("query_id"), col(idCol), col("score"))
    val approx = finishPerQueryTopK(atFactor, idCol, k, ordered = false)
      .select(expr("query_id DIV 1000").as("query_id"),
        pmod(col("query_id"), lit(1000L)).cast("int").as("factor"), col(idCol))
    val exact = knnBatchGeneric(indexed.select(col(idCol), col(vecCol)),
      queries, idCol, vecCol, k, metric)
      .select(col("query_id"), col(idCol))
    val hits = approx.join(exact, Seq("query_id", idCol))
      .groupBy(col("query_id"), col("factor")).agg(count(lit(1)).as("nhits"))
    queries.select(col("query_id")).crossJoin(sweep.toDF("factor"))
      .join(hits, Seq("query_id", "factor"), "left")
      .select(col("query_id"), col("factor"),
        round(coalesce(col("nhits"), lit(0L)).cast("double") / k, 6).as("recall"))
      .orderBy(col("query_id").asc, col("factor").asc)
  }

  /**
   * Bit-balance audit of the binary codes — the index-health view of
   * the 1-bit rung: per-dimension fraction of vectors whose sign bit
   * is set. Balanced bits (~0.5) discriminate; a dimension stuck near
   * 0 or 1 contributes nothing to Hamming distance, so a skewed
   * profile says "this corpus needs centering (or more rerank width)
   * before the 1-bit codes can be trusted". One explode + a 64-key
   * aggregate with map-side partials.
   */
  def binaryIndexInfo(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    emb.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vectors"),
        // floor-form quant6: a count ratio CAN land on a decimal
        // half-boundary where BigDecimal half-up and binary rounding
        // disagree; the floor form is identical on both engines
        graft.operators.TextAnalysis.quant6(
          count(when(col("x") > 0, 1)).cast("double") / count(lit(1)))
          .as("positive_frac"))
      .orderBy(col("dim").asc)
  }

  /**
   * Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
   * diversity-aware top-k for RAG-style retrieval — greedily select
   * the candidate maximizing lambda*relevance - (1-lambda)*max
   * similarity to the already-selected set, so near-duplicate hits
   * stop crowding out coverage. Two stages: a DISTRIBUTED relevance
   * shortlist (TakeOrderedAndProject over the corpus scan — the
   * 100 TB-scale part), then the inherently sequential greedy
   * selection over the `shortlist`-row candidate set on the driver
   * (a k-scale query set, same collect policy as every query-side
   * table here; the selection is O(shortlist^2 * k) double math over
   * 40 rows). Every float comparison replays the engine's exact
   * fold (VectorOps.cosineArr), so the DuckDB recursive-CTE oracle
   * matches bit-for-bit: objective compares RAW doubles, output rel
   * rounds to 6 dp, ties break by id ascending.
   */
  def mmrRerank(corpus: DataFrame, query: DataFrame, idCol: String, vecCol: String,
                k: Int = 10, lambda: Double = 0.7, shortlist: Int = 40): DataFrame = {
    val spark = corpus.sparkSession
    val oneMinus = 1.0 - lambda
    // the shortlist must cover k: a k wider than the default window
    // widens the window rather than silently truncating the result
    val window = math.max(shortlist, k)
    val shortRows = bindQuery(query).fold(Array.empty[Row]) { q =>
      corpus.select(col(idCol).as("id"),
          // double-aware extraction: float and double corpora both read
          // back as Seq[Double] (same widening every other scan op does)
          col(vecCol).cast("array<double>").as("__v"),
          cosineSim(col(vecCol), q.qvec).as("rel"))
        .orderBy(col("rel").desc, col("id").asc)
        .limit(window)
        .collect()
    }
    val ids = shortRows.map(_.get(0))
    val vecs = shortRows.map(_.getSeq[Double](1).toArray)
    val rels = shortRows.map(_.getDouble(2))
    val selected = mmrSelect(ids, vecs, rels, k, lambda)
    // preserve the caller's id type (long vec_id, string chunk_id, ...)
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      corpus.schema(idCol),
      StructField("rel", DoubleType, nullable = false)))
    val rows = selected.zipWithIndex.map { case (i, r) =>
      org.apache.spark.sql.Row(r + 1, ids(i),
        graft.functions.VectorOps.roundTo(rels(i), 6)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** objective ties break by id ASCENDING (the oracle's ORDER BY
    * obj DESC, id ASC) — NOT by shortlist scan order, which is
    * (rel desc, id asc) and would keep the higher-rel candidate */
  @inline private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Int, y: Int)       => x < y
    case (x: String, y: String) => x < y
    case _ => throw new IllegalArgumentException(
      s"unsupported id type for MMR tie-break: ${a.getClass}")
  }

  /** The sequential MMR greedy over ONE query's shortlist (rows
    * already sorted rel desc, id asc): selected indices in selection
    * order. Shared verbatim by the single-query and batch forms so
    * their selection orders cannot diverge. */
  private def mmrSelect(ids: Array[Any], vecs: Array[Array[Double]],
                        rels: Array[Double], k: Int,
                        lambda: Double): Seq[Int] = {
    val oneMinus = 1.0 - lambda
    val n = ids.length
    val selected = scala.collection.mutable.ArrayBuffer[Int]()
    val inSel = new Array[Boolean](n)
    var exhausted = false
    while (!exhausted && selected.length < math.min(k, n)) {
      var best = -1
      var bestObj = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!inSel(i)) {
          val obj =
            if (selected.isEmpty) lambda * rels(i)
            else {
              var maxSim = Double.NegativeInfinity
              selected.foreach { j =>
                val s = graft.functions.VectorOps.cosineArr(vecs(i), vecs(j))
                if (s > maxSim) maxSim = s
              }
              lambda * rels(i) - oneMinus * maxSim
            }
          if (obj > bestObj || (obj == bestObj && best >= 0 && idLess(ids(i), ids(best)))) {
            bestObj = obj; best = i
          }
        }
        i += 1
      }
      // Degenerate shortlist (every remaining objective NaN — e.g. a
      // NaN component in a stored vector): return the picks so far
      // instead of dereferencing index -1.
      if (best < 0) exhausted = true
      else { inSel(best) = true; selected += best }
    }
    selected.toSeq
  }

  /**
   * Batch twin of [[mmrRerank]]: N queries' shortlists from ONE
   * corpus scan (the bounded per-query heap — shuffle carries
   * `shortlist` (id, rel) partials per query per partition, never
   * vectors), the union of shortlist ids resolved driver-side and
   * their vectors fetched once as an In-filter point read (the
   * phase-2 discipline), then the per-query sequential greedy over
   * k-scale candidates. Selection order per query is IDENTICAL to
   * the single-query form by shared-code construction. Rows:
   * (query_id, rank, id, rel) in selection order per query.
   */
  def mmrRerankBatch(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10, lambda: Double = 0.7,
                     shortlist: Int = 40): DataFrame = {
    val spark = corpus.sparkSession
    val window = math.max(shortlist, k)
    val phase1 = corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col(idCol),
        cosineSim(col(vecCol), col("qvec")).as("score"))
    val cand = graft.GraftFunctions.pin(
      finishPerQueryTopK(phase1, idCol, window, ordered = false))
    val (candRows, vecMap) =
      try {
        val rows = cand.select(col("query_id"), col(idCol), col("score")).collect()
        val ids = rows.map(_.get(1)).distinct.toSeq
        val fetched =
          if (ids.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else corpus.filter(col(idCol).isin(ids: _*))
            .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
            .collect()
        // the greedy needs ONE vector per id: a duplicate id would
        // silently pick an arbitrary one (the single-query form keeps
        // each row's own vector) — surface the contract loudly instead
        val dup = fetched.groupBy(_.get(0)).collectFirst {
          case (id, rs) if rs.length > 1 => id }
        require(dup.isEmpty,
          s"mmrRerankBatch: corpus has multiple rows for $idCol=${dup.get}" +
          " — batch rerank requires unique ids (use mmrRerank per query" +
          " for duplicate-id corpora)")
        val vm: Map[Any, Array[Double]] =
          fetched.map(r => r.get(0) -> r.getSeq[Double](1).toArray).toMap
        (rows, vm)
      } finally cand.unpersist()
    val perQuery = candRows.groupBy(_.get(0)).toSeq
      .sortWith((a, b) => idLess(a._1, b._1))
    val out = perQuery.flatMap { case (qid, rows) =>
      // same candidate order the single-query scan produces
      val sorted = rows.sortWith { (a, b) =>
        val sa = a.getDouble(2); val sb = b.getDouble(2)
        if (sa != sb) sa > sb else idLess(a.get(1), b.get(1))
      }
      val ids = sorted.map(_.get(1))
      val rels = sorted.map(_.getDouble(2))
      val vecs = ids.map(id => vecMap.getOrElse(id,
        throw new IllegalStateException(
          s"mmrRerankBatch: shortlist id $id vanished from the corpus " +
          "between phase 1 and the vector point read (concurrent " +
          "mutation?)")))
      mmrSelect(ids, vecs, rels, k, lambda).zipWithIndex.map { case (i, r) =>
        org.apache.spark.sql.Row(qid, r + 1, ids(i),
          graft.functions.VectorOps.roundTo(rels(i), 6))
      }
    }
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType, DoubleType}
    val schema = StructType(Seq(
      queries.schema("query_id"),
      StructField("rank", IntegerType, nullable = false),
      corpus.schema(idCol),
      StructField("rel", DoubleType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /**
   * Grid-index health: cell-occupancy histogram of the uniform grid
   * over the leading `gridDims` dimensions (reference
   * GridIndex.get_stats, algorithms.py:688 — total/avg/max/empty
   * cells, surfaced via vector_service.py:394 get_library_index_info).
   * Fully SQL-expressible, so the DuckDB oracle verifies it exactly:
   * bounds are one partial-aggregated pass, the cell key is map-side
   * double arithmetic (bit-identical across engines), and the
   * histogram is two tiny aggregates.
   */
  def gridIndexInfo(emb: DataFrame, vecCol: String = "embedding",
                    gridDims: Int = 4, cellsPerDim: Int = 4): DataFrame = {
    val boundCols = (0 until gridDims).flatMap { d =>
      val x = col(vecCol).getItem(d).cast("double")
      Seq(min(x).as(s"lo$d"), max(x).as(s"hi$d"))
    }
    val bounds = emb.agg(boundCols.head, boundCols.tail: _*)
    def cellOf(d: Int): Column = {
      val x = col(vecCol).getItem(d).cast("double")
      val range = greatest(col(s"hi$d") - col(s"lo$d"), lit(1.0e-12))
      least(greatest(floor((x - col(s"lo$d")) / range * cellsPerDim), lit(0)),
        lit(cellsPerDim - 1)).cast("int")
    }
    val perCell = emb.crossJoin(broadcast(bounds))
      .select(concat_ws(",", (0 until gridDims).map(cellOf): _*).as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cell_size"))
    val totalCells = math.pow(cellsPerDim.toDouble, gridDims.toDouble).toInt
    perCell.agg(
      count(lit(1)).as("occupied_cells"),
      graft.operators.TextAnalysis.quant6(avg(col("cell_size"))).as("avg_cell_size"),
      max(col("cell_size")).as("max_cell_size"))
      .withColumn("total_cells", lit(totalCells))
      .withColumn("empty_cells", lit(totalCells.toLong) - col("occupied_cells"))
  }

  /** Index-stats analog of the reference's get_stats(): per-label shape. */
  def vectorStats(emb: DataFrame): DataFrame = {
    emb.groupBy(col("label"))
      .agg(
        count(lit(1)).as("vector_count"),
        max(size(col("embedding"))).as("dimension"),
        round(min(vecNorm(col("embedding"))), 6).as("min_norm"),
        round(max(vecNorm(col("embedding"))), 6).as("max_norm"),
        round(avg(vecNorm(col("embedding"))), 6).as("avg_norm"))
      .orderBy(col("label").asc)
  }

  /**
   * Symmetric int8 scalar quantization: per-vector scale = max|x|/127,
   * q_i = round(x_i/scale). 4x memory reduction for a 100 TB corpus
   * (float32 -> int8 + one scale), with exact re-rank on the float
   * originals for the survivors. Map-side only.
   */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val vD = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val withScale = vD.select(col("vec_id"), col("v"),
      (array_max(transform(col("v"), x => abs(x))) / lit(127.0)).as("s"))
    // Output exploded to (vec_id, pos, qval, scale): scalar columns only,
    // so the verification harness can sort/hash rows without array types.
    withScale.select(col("vec_id"),
      round(col("s"), 9).as("scale"),
      posexplode(transform(col("v"), x => round(x / col("s")).cast("int")))
        .as(Seq("pos", "qval")))
      .select(col("vec_id"), col("pos"), col("qval"), col("scale"))
      .orderBy(col("vec_id").asc, col("pos").asc)
  }

  /** L2-normalized embedding column (dot == cosine fast path),
    * exploded to (vec_id, pos, unit_val, norm) scalar rows. */
  def normalized(emb: DataFrame): DataFrame = {
    emb.select(col("vec_id"),
      round(vecNorm(col("embedding")), 6).as("norm"),
      posexplode(transform(l2Normalize(col("embedding")), x => round(x, 6)))
        .as(Seq("pos", "unit_val")))
      .select(col("vec_id"), col("pos"), col("unit_val"), col("norm"))
      .orderBy(col("vec_id").asc, col("pos").asc)
  }
}
