package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftFunctions._
import graft.operators.VectorSearch

/** Counts the Spark jobs a block starts on the calling thread. */
object JobCount {
  /** Jobs are matched by a fresh job group, so work on other threads
    * never counts; the listener bus is drained before reading, so the
    * count is exact, not a race against the bus. */
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

/** The serving cost floor in deterministic terms: how many Spark jobs
  * one search runs, and how many files one commit adds to the store. */
class SearchJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def docs = Tables.load(spark, SparkTestSession.sfDir, "documents").limit(40)

  test("a single-query search runs one Spark job; two-phase paths run two") {
    val root = Files.createTempDirectory("graft-search-jobs").toString
    val lib = new VectorLibrary(spark, root, "jobs-lib")
    lib.addDocuments(docs)
    def jobs(search: => org.apache.spark.sql.DataFrame): Int = {
      search.collect() // warms the per-generation serving caches
      JobCount(spark)(search.collect())
    }
    // without a grid index, grid search fits the bounds and counts the
    // expanding-radius histogram before its scan: two aggregates of two
    // jobs each (adaptive execution runs the shuffle stage as its own
    // job), then the scan
    lib.setAlgorithm("grid")
    assert(jobs(lib.search("spark join stream", k = 5)) == 5, "grid without a grid index")
    lib.buildGridIndex()
    lib.buildIvfIndex(nCentroids = 4)
    // the query is resolved on the driver and bound as a literal: the
    // scan is the only job, plus the shortlist collect of the two-phase
    // (quantized, binary) paths
    val expected = Seq("flat" -> 1, "lsh" -> 1, "grid" -> 1, "ivf" -> 1,
      "quantized" -> 2, "binary" -> 2)
    expected.foreach { case (algo, n) =>
      lib.setAlgorithm(algo)
      assert(jobs(lib.search("spark join stream", k = 5)) == n, s"search via $algo")
    }
    assert(jobs(lib.searchApprox("spark join stream", k = 5)) == 1, "searchApprox")
    lib.setAlgorithm("flat")
    val qv = lib.chunks.select(col("embedding")).head().getSeq[Float](0)
    assert(jobs(lib.searchVector(qv, k = 5)) == 1, "searchVector")
    val e = lib.epochs.last
    assert(jobs(lib.searchAt(e, "spark join stream", k = 5)) == 1, "searchAt flat")
    assert(jobs(lib.searchAt(e, "spark join stream", k = 5,
      algorithm = Some("quantized"))) == 2, "searchAt quantized")
    lib.delete()
  }

  test("zero-row query frames answer no hits instead of failing") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val none = emb.filter(lit(false)).select(col("embedding").as("qvec"))
    val flat = VectorSearch.knnFlat(emb, none, "vec_id", "embedding", 5, "cosine")
    assert(flat.columns.toSeq == Seq("vec_id", "score"))
    assert(flat.collect().isEmpty)
    val coded = emb.withColumn("quant", quantizeVec(l2Normalize(col("embedding"))))
    val quantized = VectorSearch.knnQuantizedIndexed(coded, none,
      "vec_id", "embedding", "quant", 5)
    assert(quantized.columns.toSeq == Seq("vec_id", "score"))
    assert(quantized.collect().isEmpty)
  }

  test("a data-backed query frame resolves in one job") {
    val session = spark
    import session.implicits._
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val vecs = emb.select(col("embedding")).limit(16).collect()
      .map(_.getSeq[Float](0)).toSeq
    // an RDD-backed frame over 8 partitions whose one match sits in the
    // last: a take would widen over several jobs to reach it
    val query = spark.sparkContext.parallelize(vecs.zipWithIndex, 8)
      .toDF("qvec", "i").filter(col("i") === vecs.size - 1).select(col("qvec"))
    // one job resolves the query, one runs the scan
    assert(JobCount(spark)(VectorSearch.knnFlat(emb, query, "vec_id", "embedding", 5,
      "cosine").collect()) == 2)
  }

  test("one addDocuments commits exactly one store file per source") {
    val root = Files.createTempDirectory("graft-store-layout").toString
    val lib = new VectorLibrary(spark, root, "layout-lib")
    // spread over several ingest tasks, as any large ingest is: a
    // source's rows arrive in more than one task
    val batch = docs.repartition(4)
    val sources = batch.select(col("source")).distinct().count()
    assert(sources > 1)
    lib.addDocuments(batch)
    // storeFileStats counts the manifest's live entries per source
    val perSource = lib.storeFileStats().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.size == sources)
    assert(perSource.values.forall(_ == 1L), s"files per source: $perSource")
    lib.delete()
  }
}
