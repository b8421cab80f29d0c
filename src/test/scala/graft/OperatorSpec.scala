package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.GraftFunctions._

class OperatorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = SparkTestSession.sfDir

  private def docs = Tables.load(spark, sfDir, "documents")
  private def emb = Tables.load(spark, sfDir, "embeddings")
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("knnFlat returns the query vector itself at score 1 when included") {
    val q = emb.filter(col("vec_id") === 7).select(col("embedding").as("qvec"))
    val top = VectorSearch.knnFlat(emb, q, "vec_id", "embedding", 3, "cosine").collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 1.0)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("all four metrics rank the self-match first") {
    for (m <- Seq("cosine", "dot_product", "euclidean", "manhattan")) {
      val q = emb.filter(col("vec_id") === 3).select(col("embedding").as("qvec"))
      val top = VectorSearch.knnFlat(emb, q, "vec_id", "embedding", 1, m).collect()
      assert(top.head.getLong(0) == 3L, s"metric $m")
    }
  }

  test("lsh candidates re-rank to exact scores; results are a subset of corpus") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") =!= 0)
    val lsh = VectorSearch.lshKnn(corpus, q, "vec_id", "embedding", 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = VectorSearch.knnFlat(corpus, q, "vec_id", "embedding", 200, "cosine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lsh.nonEmpty)
    lsh.foreach { case (id, s) =>
      assert(exact.get(id).forall(_ == s), s"vec $id score mismatch") }
  }

  test("grid knn euclidean self-query returns neighbors sorted desc") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") =!= 0)
    val got = VectorSearch.gridKnn(corpus, q, "vec_id", "embedding", 10)
    val rows = got.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("lshKnnBatch matches per-query single lshKnn results") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = VectorSearch.lshKnnBatch(corpus, qs, "vec_id", "embedding", 10)
      .collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val single = VectorSearch.lshKnn(corpus,
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
  }

  test("IVF batch probe matches per-query searchIndexed on the same index") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 5)
    val idxPath = java.nio.file.Files.createTempDirectory("graft-ivf-batch").toString
    val (model, assigned) = IvfIndex.build(
      corpus.select(col("vec_id"), col("embedding")), "embedding")
    IvfIndex.writeIndex(assigned, model, idxPath)

    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = IvfIndex.searchIndexedBatch(spark, idxPath, qs,
      "vec_id", "embedding", 10)
    val grouped = batch.collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val single = IvfIndex.searchIndexed(spark, idxPath,
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = grouped(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
    // The union probe is partition-pruned at planning time.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(batch.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("assigned")))
    assert(scan.nonEmpty && scan.head.partitionFilters.nonEmpty,
      "IVF batch probe not partition-pruned")
  }

  test("gridKnnBatch matches per-query gridKnn results") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 3)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = VectorSearch.gridKnnBatch(corpus, qs, "vec_id", "embedding", 10)
      .collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val single = VectorSearch.gridKnn(corpus,
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        "vec_id", "embedding", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
  }

  test("knnQuantizedBatch matches per-query knnQuantizedIndexed results") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val store = emb.filter(col("vec_id") >= 3).withColumn("codes",
      GraftFunctions.quantizeVec(GraftFunctions.l2Normalize(col("embedding"))))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = VectorSearch.knnQuantizedBatch(store, qs,
      "vec_id", "embedding", "codes", 10)
      .collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val single = VectorSearch.knnQuantizedIndexed(store,
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        "vec_id", "embedding", "codes", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
  }

  test("bitPack/bitHamming: hamming equals the sign-disagreement count") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, -2.0f, 0.0f, 3.0f), Array(1.0f, 2.0f, -1.0f, 3.0f)),
      (Array.fill(64)(1.0f), Array.fill(64)(-1.0f)),
      (Array.fill(100)(0.5f), Array.fill(100)(0.5f))).toDF("a", "b")
    val got = df.select(bitHamming(bitPack(col("a")), bitPack(col("b"))))
      .collect().map(_.getInt(0)).toSeq
    // row 1: dims 2 differs (sign -,+); dim 3: 0 vs -1 -> both "not >0"?
    // 0.0f is not > 0 and -1 is not > 0 -> agree. So only dim 2 -> 1.
    assert(got == Seq(1, 64, 0))
    // packed width: 100 dims -> 2 longs; 64 dims -> 1 long
    val widths = df.select(size(bitPack(col("a")))).collect().map(_.getInt(0)).toSeq
    assert(widths == Seq(1, 1, 2))
    // mismatched code lengths throw, never truncate
    val bad = Seq((Array.fill(64)(1.0f), Array.fill(128)(1.0f))).toDF("a", "b")
    assertThrows[Exception] {
      bad.select(bitHamming(bitPack(col("a")), bitPack(col("b")))).collect()
    }
  }

  test("knnBinary ranks the self-match first and re-ranks exactly") {
    val q = emb.filter(col("vec_id") === 7).select(col("embedding").as("qvec"))
    val top = VectorSearch.knnBinary(emb, q, "vec_id", "embedding", 5).collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(1) == 1.0)
    // phase-2 scores are exact cosine: every returned pair must agree
    // with the flat scan's score for the same id
    val exact = VectorSearch.knnFlat(emb, q, "vec_id", "embedding", 1000, "cosine")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.foreach(r => assert(exact(r.getLong(0)) == r.getDouble(1)))
  }

  test("knnBinaryBatch matches per-query knnBinaryIndexed results") {
    val store = emb.filter(col("vec_id") >= 3)
      .withColumn("bits", bitPack(col("embedding")))
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val batch = VectorSearch.knnBinaryBatch(store, qs, "vec_id", "embedding", "bits", 10)
      .collect().groupBy(_.getLong(0))
    for (qid <- 0L until 3L) {
      val single = VectorSearch.knnBinaryIndexed(store,
        emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        "vec_id", "embedding", "bits", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
  }

  test("shardManifest checksum is layout-independent and membership-sensitive") {
    val d = docs.limit(60)
    val base = Pipeline.shardManifest(d).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(4)).toMap
    // same docs, different physical layout -> identical manifest
    val shuffled = Pipeline.shardManifest(d.repartition(7)).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(4)).toMap
    assert(base == shuffled, "manifest depends on partition layout")
    // dropping one document must change its shard's hash
    val dropped = Pipeline.shardManifest(d.filter(col("doc_id") =!= 0)).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(4)).toMap
    assert(base != dropped, "manifest blind to membership change")
  }

  test("winnowSketch: shared long runs guarantee a common sketch hash") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"shared run token$i").mkString(" ") // 30 tokens
    val d = Seq(
      (1L, "alpha beta gamma " + shared + " delta epsilon zeta"),
      (2L, "completely different prefix words here " + shared),
      (3L, "no overlap with anything " + (1 to 30).map(i => s"solo$i").mkString(" ")),
      (4L, "tiny")).toDF("doc_id", "text")
    val sk = d.select(col("doc_id"), winnowSketch(col("text")).as("sk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: a shared window+shingle-1 (=6) token run
    // yields >= 1 common fingerprint — docs 1,2 share a 30-token run
    assert((sk(1L) intersect sk(2L)).nonEmpty, "shared run produced no common hash")
    assert((sk(1L) intersect sk(3L)).isEmpty, "disjoint docs share a hash")
    // sub-threshold doc sketches empty; sketches are sorted ascending
    assert(sk(4L).isEmpty)
    val s1 = d.filter(col("doc_id") === 1)
      .select(winnowSketch(col("text"))).head.getSeq[Long](0)
    assert(s1 == s1.sorted && s1.distinct.length == s1.length)
    // density: sketch is a fraction of the shingle count (2/(w+1) exp.)
    val nsh = d.filter(col("doc_id") === 3)
      .select(size(shingleHashes(col("text")))).head.getInt(0)
    assert(sk(3L).size < nsh)
  }

  test("docKnn ranks a query-matching document first, scores descend") {
    import spark.implicits._
    val filler = (1 to 40).map(i => s"unrelated filler token$i").mkString(" ")
    val d = Seq(
      (1L, "spark join stream table filter " * 8 + filler),
      (2L, filler + " " + (1 to 40).map(i => s"other theme word$i").mkString(" ")),
      (3L, (1 to 40).map(i => s"noise item$i entry").mkString(" ")))
      .toDF("doc_id", "text").withColumn("source", lit("t"))
    val qv = d.sparkSession.range(1)
      .select(embedText(lit("spark join stream table filter"), 64))
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val got = TextAnalysis.docKnn(d, qv, k = 3).collect()
    assert(got.head.getLong(0) == 1L, "query-heavy doc must rank first")
    assert(got.map(_.getDouble(1)).sliding(2).forall(p => p(0) >= p(1)))
    assert(got.length == 3)
  }

  test("mmrRerank seeds with the top hit and diversifies near-duplicates") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f, 0.0f)),   // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Array(1.0f, 0.05f, 0.02f, 0.0f))).toDF("qvec")
    // diversity-weighted lambda: the near-duplicate's sim penalty must
    // outweigh its relevance edge
    val got = VectorSearch.mmrRerank(corpus, q, "vec_id", "embedding", k = 3,
        lambda = 0.3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.head == (1, 1L), "rank 1 must be the most relevant hit")
    // the near-duplicate of the seed must NOT be picked second: MMR
    // prefers an orthogonal candidate despite its lower relevance
    assert(got(1)._2 != 2L, s"near-dup picked second: ${got.toSeq}")
    assert(got.map(_._2).distinct.length == 3)
    // on the real corpus: rank 1 == flat top-1, ids distinct, k rows
    val (c, qq) = (emb.filter(col("vec_id") =!= 0),
      emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec")))
    val mmr = VectorSearch.mmrRerank(c, qq, "vec_id", "embedding", 10).collect()
    val flat = VectorSearch.knnFlat(c, qq, "vec_id", "embedding", 1, "cosine").collect()
    assert(mmr.head.getLong(1) == flat.head.getLong(0))
    assert(mmr.map(_.getLong(1)).distinct.length == 10)
  }

  test("knnBatch produces k rows per query ranked 1..k") {
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val got = VectorSearch.knnBatch(emb.filter(col("vec_id") >= 3), qs,
      "vec_id", "embedding", 4, "cosine").collect()
    assert(got.length == 12)
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach(rs => assert(rs.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4)))
  }

  test("minhash LSH and ngram jaccard agree on the known near-dup pair") {
    val nj = Dedup.ngramJaccard(docs, threshold = 0.5).collect()
    val mh = Dedup.minhashLsh(docs, threshold = 0.5).collect()
    assert(nj.nonEmpty, "expected at least one near-dup pair in testdata")
    val njPairs = nj.map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhPairs = mh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(njPairs.subsetOf(mhPairs),
      s"minhash missed true near-dups: ${njPairs -- mhPairs}")
  }

  test("simhash near-dups include the high-jaccard pairs") {
    val nj = Dedup.ngramJaccard(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nj.subsetOf(sh), s"simhash missed: ${nj -- sh}")
  }

  test("exact dedup partitions the corpus") {
    val d = Dedup.exact(docs).agg(sum("n_docs")).collect()(0).getLong(0)
    assert(d == docs.count())
  }

  test("chunking reassembles to the tokenized document") {
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"))
    val rejoined = TextAnalysis.chunkWords(docs)
      .groupBy("doc_id")
      .agg(concat_ws(" ", collect_list(col("chunk_text"))).as("glued"),
        sum("n_tokens").as("total"))
    val cmp = toks.join(rejoined, "doc_id")
      .select((concat_ws(" ", col("toks")) === col("glued")).as("same"),
        (size(col("toks")) === col("total")).as("cnt"))
      .collect()
    assert(cmp.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("quality score bounded in [0,1]") {
    val qs = TextAnalysis.qualityScore(docs)
      .select(min("quality_score"), max("quality_score")).collect()(0)
    assert(qs.getDouble(0) >= 0.0 && qs.getDouble(1) <= 1.0)
  }

  test("multi-language langid classifies planted texts and agrees with single-lang en") {
    import spark.implicits._
    val planted = Seq(
      (9001L, "el perro corre por la calle y el gato duerme en la casa de su amigo"),
      (9002L, "le chien court dans la rue et le chat dort dans la maison avec le garcon"),
      (9003L, "der hund lauft auf der strasse und die katze schlaft in dem haus mit dem jungen"),
      (9004L, "the dog runs on the street and the cat sleeps in the house with the boy"),
      (9005L, "xqzt vbnm wrtp lkjh qwer asdf zxcv poiu mnbv")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langIdMulti(planted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out(9001L) == "es", s"es text got ${out(9001L)}")
    assert(out(9002L) == "fr", s"fr text got ${out(9002L)}")
    assert(out(9003L) == "de", s"de text got ${out(9003L)}")
    assert(out(9004L) == "en", s"en text got ${out(9004L)}")
    assert(out(9005L) == "und", s"gibberish got ${out(9005L)}")

    // On the corpus: anything single-lang langId calls "en" must score
    // en-ratio >= threshold in the multi model too (same list, same
    // denominator), so multi never demotes an en doc to "und".
    val single = TextAnalysis.langId(docs).select("doc_id", "pred_lang")
      .withColumnRenamed("pred_lang", "single")
    val multi = TextAnalysis.langIdMulti(docs).select("doc_id", "pred_lang")
    val demoted = multi.join(single, "doc_id")
      .filter(col("single") === "en" && col("pred_lang") === "und").count()
    assert(demoted == 0)
  }

  test("frame sampling emits nFrames equal windows with consistent geometry") {
    import spark.implicits._
    val one = Seq((1L, "abcdefghijklmnopqrstuvwxyz012345")) // 32 bytes
      .toDF("doc_id", "text")
    val fs = Multimodal.frameSample(one).collect()
    assert(fs.length == 4)
    assert(fs.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
    assert(fs.forall(_.getAs[Int]("frame_len") == 8))
    assert(fs.map(_.getAs[Long]("frame_offset")).toSeq == Seq(0L, 8L, 16L, 24L))
    assert(fs.forall(_.getAs[Int]("ds_len") == 4))
    // frame 0 = "abcdefgh", stride-2 = "aceg" — verifiable checksums
    assert(fs(0).getAs[Long]("frame_checksum") ==
      new java.util.zip.CRC32 { update("abcdefgh".getBytes("UTF-8")) }.getValue)
    assert(fs(0).getAs[Long]("ds_checksum") ==
      new java.util.zip.CRC32 { update("aceg".getBytes("UTF-8")) }.getValue)
    // sub-frame-size payloads are excluded
    assert(Multimodal.frameSample(Seq((2L, "abc")).toDF("doc_id", "text")).count() == 0)
  }

  test("multimodal nearDup groups identical payloads, splits distinct ones") {
    import spark.implicits._
    val d = Seq((1L, "same payload bytes"), (5L, "same payload bytes"),
      (9L, "entirely different media")).toDF("doc_id", "text")
    val groups = Multimodal.nearDup(d).collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L, "representative must be the min doc_id")
    // counts partition the corpus
    assert(groups.map(_.getLong(1)).sum == 3L)
    assertThrows[IllegalArgumentException](Multimodal.nearDup(d, dim = 65))
  }

  test("media decoder seam: a second codec swaps in without changing the plumbing") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{transform => atransform, _}
    // A second deterministic "codec": dim scaled rotations of the
    // payload CRC — entirely different features, same contract
    // (Array[Float] of length dim, deterministic per byte-string).
    class CrcDecoder(val dim: Int = 8) extends MediaDecoder {
      def features(payload: Column): Column =
        atransform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(crc32(payload) + i * lit(2654435761L), lit(1000L))
            .cast("double") / 500.0 - 1.0).cast("float"))
    }
    val d = Seq((1L, "same payload bytes"), (5L, "same payload bytes"),
      (9L, "entirely different media")).toDF("doc_id", "text")
    val stub = Multimodal.features(d, dim = 8)
    val crc = Multimodal.features(d, decoder = new CrcDecoder(8))
    // identical plumbing: schema, row counts, metadata columns
    assert(stub.schema == crc.schema, "decoder changed the pipeline schema")
    assert(stub.count() == crc.count())
    assert(stub.select("doc_id", "media_bytes", "media_checksum").distinct().collect().toSet ==
      crc.select("doc_id", "media_bytes", "media_checksum").distinct().collect().toSet,
      "payload metadata must be decoder-independent")
    // different kernels: the feature values differ
    assert(stub.select("feat").collect().toSeq != crc.select("feat").collect().toSeq)
    // near-dup grouping works THROUGH the seam: the counts partition
    // the corpus and equal payloads always share a fingerprint (an
    // 8-bit sign code may legitimately collide distinct payloads, so
    // only the equal-payload invariant is asserted)
    val g = Multimodal.nearDup(d, decoder = new CrcDecoder(8)).collect()
    assert(g.map(_.getLong(1)).sum == 3L)
    assert(g.find(_.getLong(2) == 1L).get.getLong(1) >= 2L,
      "equal payloads landed in different fingerprint groups")
    // still a map-only pass: no shuffle before the presentation sort
    val exchanges = "Exchange".r
      .findAllIn(Multimodal.features(d, decoder = new CrcDecoder(8))
        .queryExecution.executedPlan.toString).length
    assert(exchanges <= 1, "decode pass must stay map-side")
  }

  test("media decoder seam carries a REAL codec: javax.imageio decode, re-encode-invariant near-dup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.awt.image.BufferedImage
    // real images, entirely JVM-side: 2 distinct 16x16 block patterns
    def img(pattern: Int): BufferedImage = {
      val im = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val on = pattern match {
          case 0 => (x / 4 + y / 4) % 2 == 0 // checkerboard
          case _ => x < 8                    // half split
        }
        im.setRGB(x, y, if (on) 0xffffff else 0x000000)
      }
      im
    }
    def bytes(im: BufferedImage, fmt: String): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, baos)
      baos.toByteArray
    }
    // doc 1 and doc 5: the SAME pixels under different encodings (png
    // vs bmp) — different payload bytes, so checksum dedup misses
    // them; doc 9: a different image. doc 13: not an image at all.
    val rows = Seq(
      (1L, bytes(img(0), "png")),
      (5L, bytes(img(0), "bmp")),
      (9L, bytes(img(1), "png")),
      (13L, "not an image".getBytes("UTF-8")))
    val d = rows.toDF("doc_id", "payload")
    val dec = new ImageIoMediaDecoder(16)

    val feats = Multimodal.featuresOf(d, col("payload"), 16, dec)
    val stubF = Multimodal.featuresOf(d, col("payload"), 16)
    // identical plumbing vs the stub: schema and plan shape
    assert(feats.schema == stubF.schema, "real codec changed the pipeline schema")
    val exchanges = "Exchange".r
      .findAllIn(feats.queryExecution.executedPlan.toString).length
    assert(exchanges <= 1, "real decode pass must stay map-side")

    val byDoc = feats.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(_.getDouble(4)).toSeq).toMap
    // re-encode invariance: identical pixels -> identical features
    // even though the payload bytes (and checksums) differ
    assert(byDoc(1L) == byDoc(5L), "png/bmp re-encode broke feature identity")
    val checksums = feats.select(col("doc_id"), col("media_checksum"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(checksums(1L) != checksums(5L),
      "test is vacuous: the two encodings produced identical bytes")
    // discrimination: a different image decodes to different features
    assert(byDoc(1L) != byDoc(9L), "distinct images collapsed")
    // undecodable payload -> deterministic zero vector, never a crash
    assert(byDoc(13L).forall(_ == 0.0), "undecodable payload must yield zeros")
    // centered luminance is physical: white blocks ~ +0.5, black ~ -0.5
    assert(byDoc(9L).max > 0.4 && byDoc(9L).min < -0.4,
      "centered block luminance lost the black/white structure")

    // near-dup THROUGH the real codec: the re-encoded pair shares a
    // fingerprint group; the distinct image does not join it
    val groups = Multimodal.nearDupOf(d, col("payload"), 16, dec).collect()
    assert(groups.map(_.getLong(1)).sum == 4L)
    val pairGroup = groups.find(_.getLong(2) == 1L).get
    assert(pairGroup.getLong(1) == 2L,
      "re-encoded copies (png vs bmp) must share a perceptual fingerprint")
  }

  test("sample split is deterministic, complete, and roughly proportional") {
    val s1 = Pipeline.sampleSplit(docs).collect()
    val s2 = Pipeline.sampleSplit(docs).collect()
    assert(s1.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      s2.map(r => (r.getLong(0), r.getString(2))).toSeq, "split not deterministic")
    assert(s1.length == docs.count())
    val byName = s1.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    val trainFrac = byName("train").toDouble / s1.length
    assert(trainFrac > 0.7 && trainFrac < 0.9, s"train fraction $trainFrac")
    // growing the corpus never reassigns an existing doc
    val grown = Pipeline.sampleSplit(docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000))).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1.forall(r => grown(r.getLong(0)) == r.getString(2)))
  }

  test("hybridBatch matches per-query hybrid results") {
    val corpus = Tables.documentsEmbedded(spark, sfDir)
    val qs = Seq("spark join stream window", "table scan filter hash",
      "sort merge partition key")
    val batch = TextSearch.hybridBatch(corpus, qs, topN = 10)
      .collect().groupBy(_.getLong(0))
    qs.zipWithIndex.foreach { case (q, qi) =>
      val single = TextSearch.hybrid(corpus, q, topN = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qi.toLong).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query '$q' diverged")
    }
  }

  test("funnel counts only in-order stage progressions") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, ts(1), 1L, "view", 0.0), (2L, ts(2), 1L, "click", 0.0),
      (3L, ts(3), 1L, "purchase", 0.0),
      // user 2: purchase BEFORE view/click never counts
      (4L, ts(1), 2L, "purchase", 0.0), (5L, ts(2), 2L, "view", 0.0),
      (6L, ts(3), 2L, "click", 0.0),
      // user 3: click only — stage 0 (no view yet)
      (7L, ts(1), 3L, "click", 0.0),
      // user 4: view -> purchase without click — purchase needs click first
      (8L, ts(1), 4L, "view", 0.0), (9L, ts(2), 4L, "purchase", 0.0),
      // user 5: out-of-order then re-ordered later arrivals complete it
      (10L, ts(1), 5L, "click", 0.0), (11L, ts(2), 5L, "view", 0.0),
      (12L, ts(3), 5L, "click", 0.0), (13L, ts(4), 5L, "purchase", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.funnel(ev).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(out == Map(1L -> 3, 2L -> 2, 3L -> 0, 4L -> 1, 5L -> 3))
  }

  test("mix sampling applies per-source rates deterministically") {
    val rates = Map("src0" -> 1.0, "src3" -> 0.0, "src5" -> 0.5)
    val out = Pipeline.mixSample(docs, rates, defaultRate = 0.75).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(4)))
    assert(out.length == docs.count())
    assert(out.filter(_._2 == "src0").forall(_._3), "rate 1.0 must keep all")
    assert(!out.exists(r => r._2 == "src3" && r._3), "rate 0.0 must keep none")
    // roughly half of src5 survives (exact membership is the oracle's job)
    val src5 = out.filter(_._2 == "src5")
    val frac5 = src5.count(_._3).toDouble / src5.length
    assert(frac5 > 0.2 && frac5 < 0.8, s"src5 kept fraction $frac5")
    // a doc's decision never changes when the corpus grows
    val grown = Pipeline.mixSample(docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 500000)), rates, 0.75).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out.forall(r => grown(r._1) == r._3))
  }

  test("exact quota sampling keeps exactly min(quota, |source|) per source") {
    val quotas = Map("src0" -> 5, "src3" -> 0)
    val out = Pipeline.mixSampleExact(docs, quotas, defaultQuota = 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
    assert(out.length == docs.count())
    val bySource = out.groupBy(_._2)
    bySource.foreach { case (src, rows) =>
      val quota = quotas.getOrElse(src, 10)
      val kept = rows.count(_._4)
      assert(kept == math.min(quota, rows.length),
        s"$src kept $kept of ${rows.length}, quota $quota")
      // kept exactly = the quota lowest ranks; ranks are a permutation
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
      assert(rows.filter(_._4).forall(_._3 <= quota))
    }
    // same seed -> identical membership on a re-run
    val again = Pipeline.mixSampleExact(docs, quotas, defaultQuota = 10).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.forall(r => again(r._1) == r._4))
  }

  test("anomalies flags only days above factor x the type's daily mean") {
    import spark.implicits._
    def ts(day: Int, i: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 00:00:00").getTime + i * 1000L)
    // type A: 2,2,8 events over 3 days (mean 4) -> day 3 (8 > 8? no, not strict)
    //   use 9 on day 3: 9 > 4*2 -> flagged
    // type B: perfectly flat 3,3,3 -> nothing flagged
    val ev = (
      (1 to 2).map(i => (ts(1, i), "A")) ++ (1 to 2).map(i => (ts(2, i), "A")) ++
        (1 to 9).map(i => (ts(3, i), "A")) ++
        (1 to 3).flatMap(d => (1 to 3).map(i => (ts(d, i), "B")))
      ).zipWithIndex.map { case ((t, ty), k) => (k.toLong, t, k.toLong % 7, ty, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.anomalies(ev, factor = 2.0).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("A", "2024-01-03", 9L, 4.3333)))
  }

  test("asof join matches the most recent prior right event, ties inclusive") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: purchase@5 has no prior view; views@10,20; purchase@20
    //   ties to the view AT 20 (inclusive); purchase@30 -> view@20.
    // user 2: two views at the same ts -> highest event_id wins.
    val ev = Seq(
      (100L, ts(5), 1L, "purchase", 0.0), (101L, ts(10), 1L, "view", 0.0),
      (102L, ts(20), 1L, "view", 0.0), (103L, ts(20), 1L, "purchase", 0.0),
      (104L, ts(30), 1L, "purchase", 0.0), (105L, ts(7), 2L, "view", 0.0),
      (106L, ts(7), 2L, "view", 0.0), (107L, ts(9), 2L, "purchase", 0.0),
      (108L, ts(50), 3L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.asofJoin(ev).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toSeq
    assert(out == Seq((100L, -1L, -1L), (103L, 102L, 0L),
      (104L, 102L, 10000000L), (107L, 106L, 2000000L)))
  }

  test("rangeJoin pairs each left event with all rights in the lookback band") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: purchase@100 sees views @40, @100 (inclusive edge) but
    //   not @101 (future) nor @(100-3600-1) (outside band with lag=3600)
    val ev = Seq(
      (1L, ts(40), 1L, "view", 0.0), (2L, ts(100), 1L, "view", 0.0),
      (3L, ts(101), 1L, "view", 0.0), (4L, ts(100L - 3601L), 1L, "view", 0.0),
      (5L, ts(100), 1L, "purchase", 0.0),
      (6L, ts(50), 2L, "purchase", 0.0) // user 2: no views at all
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.rangeJoin(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(out == Seq((5L, 1L, 60000000L), (5L, 2L, 0L)))
  }

  test("rolling uses a RANGE day frame (calendar gaps shrink the window)") {
    import spark.implicits._
    def day(d: Int, h: Int = 12) =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // type a: days 1,2,10 — day 10 is >6 days past both, so its
    // trailing window holds only itself (ROWS would wrongly include
    // days 1 and 2); day 2 rolls up day 1.
    val ev = Seq(
      (1L, day(1), 1L, "a", 1.0), (2L, day(1, 13), 2L, "a", 2.0),
      (3L, day(2), 1L, "a", 4.0), (4L, day(10), 3L, "a", 8.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.rolling(ev).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSeq
    assert(out == Seq(
      ("2024-01-01", 2L, 2L, 1L, 3.0), ("2024-01-02", 1L, 3L, 2L, 7.0),
      ("2024-01-10", 1L, 1L, 1L, 8.0)))
  }

  test("valuePercentiles interpolates exact per-type quantiles") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // type a: values 10,20,30,40 -> p50 = 25 (interpolated), mean 25
    val ev = Seq(
      (1L, ts(1), 1L, "a", 10.0), (2L, ts(2), 1L, "a", 20.0),
      (3L, ts(3), 1L, "a", 30.0), (4L, ts(4), 1L, "a", 40.0),
      (5L, ts(5), 1L, "b", 7.5)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.valuePercentiles(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5),
        r.getDouble(7))).toSeq
    assert(out == Seq(("a", 4L, 25.0, 25.0, 39.7), ("b", 1L, 7.5, 7.5, 7.5)))
  }

  test("spark.graft.percentiles=approx swaps the t-digest into both reports") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = (1 to 100).map(i => (i.toLong, ts(i), 1L, "a", i.toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val docs = Tables.load(spark, sfDir, "documents").limit(50)
    try {
      spark.conf.set("spark.graft.percentiles", "approx")
      val evPlan = Events.valuePercentiles(ev)
      assert(evPlan.queryExecution.optimizedPlan.toString.contains("approx_percentile"),
        "approx mode did not plan approx_percentile (events)")
      val csPlan = TextAnalysis.corpusStats(docs)
      assert(csPlan.queryExecution.optimizedPlan.toString.contains("approx_percentile"),
        "approx mode did not plan approx_percentile (corpus)")
      // approx on 100 uniform values is exact-ish: sanity the numbers
      val r = evPlan.collect().head
      assert(math.abs(r.getDouble(4) - 50.5) <= 1.5, s"p50 ${r.getDouble(4)}")
      assert(csPlan.count() > 0)
      spark.conf.set("spark.graft.percentiles", "bogus")
      intercept[IllegalArgumentException] { Events.valuePercentiles(ev) }
    } finally spark.conf.unset("spark.graft.percentiles")
    // back to default: exact plan, no t-digest
    assert(!Events.valuePercentiles(ev).queryExecution
      .optimizedPlan.toString.contains("approx_percentile"))
  }

  test("packSequences carves per-source token streams into fixed blocks") {
    import spark.implicits._
    // source a: 3 + 5 + 0 + 2 tokens, seqLen 4:
    //   doc 1 [0,3) -> seq 0;  doc 2 [3,8) -> seqs 0..1 (spans);
    //   doc 3 empty -> no seq; doc 4 [8,10) -> seq 2
    val d = Seq(
      (1L, "a", "x x x"), (2L, "a", "x x x x x"), (3L, "a", "!!!"),
      (4L, "a", "x x"), (5L, "b", "x x x x x x")
    ).toDF("doc_id", "source", "text")
    val out = Pipeline.packSequences(d, seqLen = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5), r.getLong(6))).toSeq
    assert(out == Seq(
      (1L, 3L, 0L, 0L, 0L, 1L), (2L, 5L, 3L, 0L, 1L, 2L),
      (3L, 0L, 8L, -1L, -1L, 0L), (4L, 2L, 8L, 2L, 2L, 1L),
      (5L, 6L, 0L, 0L, 1L, 2L)))
  }

  test("topNgrams ranks per-source grams by document frequency") {
    import spark.implicits._
    val d = Seq(
      (1L, "a", "the cat sat down"),   // "the cat sat", "cat sat down"
      (2L, "a", "the cat sat quietly the cat sat"), // dedup within doc
      (3L, "a", "no"),                 // too short -> no grams
      (4L, "b", "the cat sat")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.topNgrams(d, n = 3, k = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out == Seq(
      ("a", "the cat sat", 2L, 1), ("a", "cat sat down", 1L, 2),
      ("b", "the cat sat", 1L, 1)))
  }

  test("topNgrams top-k is a bounded native aggregate, not a rank window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the gram vocabulary here is larger than k, with a tie at the
    // k boundary (df=1 grams resolve by gram asc) — the exact case
    // where heap and window orders could diverge
    val docs = (1L to 40L).map { i =>
      (i, if (i % 2 == 0) "a" else "b",
        s"common prefix token w$i x$i y$i z$i tail")
    }.toDF("doc_id", "source", "text")
    val out = TextAnalysis.topNgrams(docs, n = 3, k = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "per-source top-k must be the bounded aggregate, not a rank window")
    assert(plan.contains("partial_graft_topk_str"),
      "top-k aggregate must run a map-side partial pass")
    // ground truth: the rank-window form over the same counts
    val counts = docs
      .select(col("source"), graft.GraftFunctions.tokensOf(col("text")).as("toks"))
      .select(col("source"), explode(array_distinct(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>")))).as("ngram"))
      .groupBy(col("source"), col("ngram")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("df").desc, col("ngram").asc)
    val expect = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy(col("source").asc, col("rank").asc)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val got = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == expect.toSeq,
      "bounded aggregate must reproduce the rank-window order exactly")
  }

  test("contamination scores containment against the eval corpus") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val train = Seq(
      // full copy of the eval doc: every 8-gram contained -> 1.0
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // half-overlapping window: some 8-grams contained
      (11L, "gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      // disjoint vocabulary: zero containment
      (12L, "one two three four five six seven eight nine ten"),
      // too short for any 8-gram: no signal, scores 0.0
      (13L, "tiny doc")).toDF("doc_id", "text")
    val out = Pipeline.contamination(train, evalDocs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(10L) == ((3L, 3L, 1.0, true)))       // 10 toks -> 3 distinct 8-grams
    assert(out(11L)._2 > 0 && out(11L)._2 < out(11L)._1 && out(11L)._4)
    assert(out(12L) == ((3L, 0L, 0.0, false)))
    assert(out(13L) == ((0L, 0L, 0.0, false)))
  }

  test("shard packing matches the exclusive-prefix-sum contract per source") {
    val packed = Pipeline.shardPack(docs, budgetTokens = 1000).collect()
    for ((_, rows) <- packed.groupBy(_.getString(1))) {
      val sorted = rows.sortBy(_.getLong(0))
      var cum = 0L
      for (r <- sorted) {
        assert(r.getAs[Int]("shard_idx") == (cum / 1000).toInt,
          s"doc ${r.getLong(0)}: shard ${r.getAs[Int]("shard_idx")} != ${cum / 1000}")
        cum += r.getAs[Int]("n_tokens")
      }
      // shard ids start at 0 and never decrease in doc order
      assert(sorted.head.getAs[Int]("shard_idx") == 0)
    }
  }

  test("clean corpus applies the gate rules in order") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and runs " * 5
    val planted = Seq(
      (1L, good),                                  // ok
      (2L, good),                                  // duplicate of 1
      (3L, "just a few words here"),               // too_short (< 10 tokens)
      (4L, Seq.fill(50)("zqxv").mkString(" ")),    // non_english (no stopwords)
      // >= 10 tokens, has a stopword (ratio >= 0.05), but implausibly
      // long tokens drive the quality score under 0.3
      (5L, ("the " + Seq.fill(9)("z" * 20).mkString(" ")))
    ).toDF("doc_id", "text")
    val out = Pipeline.cleanCorpus(planted).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out(1L) == ("ok", true))
    assert(out(2L) == ("duplicate", false))
    assert(out(3L) == ("too_short", false))
    assert(out(4L) == ("non_english", false))
    assert(out(5L) == ("low_quality", false))
  }

  // ---- plan-shape assertions (scale hygiene) -----------------------------
  test("prepare corpus composes clean, split, and pack consistently") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = Pipeline.prepareCorpus(docs).collect()
    assert(out.length == docs.count())
    val clean = Pipeline.cleanCorpus(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    val split = Pipeline.sampleSplit(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(2) == clean(id)._1, s"reason mismatch for $id")
      assert(r.getBoolean(3) == clean(id)._2)
      if (r.getBoolean(3)) assert(r.getString(4) == split(id), s"split mismatch for $id")
      else assert(r.isNullAt(4), s"rejected doc $id has a split")
      if (r.isNullAt(4) || r.getString(4) != "train")
        assert(r.isNullAt(5), s"non-train doc $id has a shard")
    }
    // kept train docs pack into contiguous shards from 0 per source
    val trains = out.filter(r => !r.isNullAt(5))
    assert(trains.nonEmpty)
    trains.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val shards = rs.map(_.getInt(5)).distinct.sorted.toSeq
      assert(shards == (0 to shards.max), s"non-contiguous shards in $src: $shards")
    }
  }

  test("keep-best dedup picks the highest-score member as representative") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, txt), (2L, txt),
      (3L, "completely different content about spark shuffles and joins here"))
      .toDF("doc_id", "text")
    val score = when(col("doc_id") === 2, 5.0).otherwise(1.0)
    val rows = Dedup.minhashGroupsBest(docs, score).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // identical texts share every bucket; the higher-score doc 2 wins
    // the representative slot (minhashGroups would pick doc 1)
    assert(rows(1L) == ((2L, true)), s"doc 1 -> ${rows(1L)}")
    assert(rows(2L) == ((2L, false)))
    assert(rows(3L) == ((3L, false)), "unrelated doc clustered")
  }

  test("source overlap reports n-gram containment per source pair") {
    import spark.implicits._
    val g = "a b c d e f g h"
    val docs = Seq(
      (1L, s"x $g", "s1"), (2L, s"$g y", "s2"),
      (3L, "q r s t u v w z nine ten", "s3"))
      .toDF("doc_id", "text", "source")
    val rows = Pipeline.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // s1 = {x a..g, a..h}, s2 = {a..h, b..h y}: one shared gram of two
    assert(rows == Seq(("s1", "s2", 2L, 1L, 0.5), ("s2", "s1", 2L, 1L, 0.5)),
      rows.toString)
  }

  test("expanding grid probe reaches k where the fixed +/-1 probe cannot") {
    import spark.implicits._
    // 40 vectors in the low corner of the 4-dim grid prefix, 3 near
    // the high corner, query at the high corner: the +/-1 neighborhood
    // holds only 3 candidates, so the fixed probe under-fills while
    // the expanding probe widens to radius 3 and returns k.
    def vec(base: Float, id: Int): Array[Float] =
      Array.tabulate(64)(i => if (i < 4) base + (id % 7) * 0.01f else 0.5f)
    val corpus = ((1 to 40).map(i => (i.toLong, vec(0.02f, i))) ++
      (41 to 43).map(i => (i.toLong, vec(0.90f, i)))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(vec(0.95f, 0))).toDF("qvec")

    val fixed = VectorSearch.gridKnn(corpus, q, "vec_id", "embedding", 10).count()
    val expanded = VectorSearch.gridKnnExpanding(corpus, q, "vec_id", "embedding", 10)
      .collect()
    assert(fixed == 3, s"fixed probe found $fixed (expected the 3 high-corner docs)")
    assert(expanded.length == 10, s"expanding probe returned ${expanded.length} rows")
    // the 3 high-corner docs must rank first (they are closest)
    assert(expanded.take(3).map(_.getLong(0)).toSet == Set(41L, 42L, 43L))
  }

  test("batch expanding grid matches per-query expanding probes") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 3)
    val batch = VectorSearch.gridKnnExpandingBatch(corpus, qs,
      "vec_id", "embedding", 5).collect()
    (0L until 3L).foreach { qid =>
      val single = VectorSearch.gridKnnExpanding(corpus,
        qs.filter(col("query_id") === qid).select(col("qvec")),
        "vec_id", "embedding", 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch.filter(_.getLong(0) == qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $qid diverged")
    }
  }

  test("pii scrub counts and redacts each pattern; clean text passes through") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jo.doe+x@mail-host.co or https://ex.org/a?b=1 from 192.168.0.1 call 555-0199"),
      (2L, "no pii here just words"),
      (3L, "two mails a@b.io c@d.org and ips 10.0.0.1 172.16.0.9")
    ).toDF("doc_id", "text")
    val rows = Pipeline.piiScrub(docs).collect()

    val r1 = rows(0)
    assert(r1.getAs[Int]("n_url") == 1 && r1.getAs[Int]("n_email") == 1 &&
      r1.getAs[Int]("n_ip") == 1 && r1.getAs[Int]("n_phone") == 1 &&
      r1.getAs[Int]("pii_total") == 4)
    val red1 = r1.getAs[String]("redacted")
    assert(red1 == "reach me at <EMAIL> or <URL> from <IP> call <PHONE>", red1)

    val r2 = rows(1)
    assert(r2.getAs[Int]("pii_total") == 0 &&
      r2.getAs[String]("redacted") == "no pii here just words")

    val r3 = rows(2)
    assert(r3.getAs[Int]("n_email") == 2 && r3.getAs[Int]("n_ip") == 2 &&
      r3.getAs[String]("redacted") == "two mails <EMAIL> <EMAIL> and ips <IP> <IP>")

    // mixed case matches; URLs stop at any whitespace, not just space
    val cased = Pipeline.piiScrub(Seq(
      (4L, "Mail John.Doe@Example.COM or HTTPS://Ex.org/A\nimportant fact"))
      .toDF("doc_id", "text")).collect()(0)
    assert(cased.getAs[Int]("n_email") == 1 && cased.getAs[Int]("n_url") == 1)
    assert(cased.getAs[String]("redacted") == "Mail <EMAIL> or <URL>\nimportant fact",
      cased.getAs[String]("redacted"))
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.q1(Tables.load(spark, sfDir, "lineitem")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q2 broadcasts the nation dim") {
    val p = plan(Relational.q2(Tables.load(spark, sfDir, "customer"),
      Tables.load(spark, sfDir, "orders"), Tables.load(spark, sfDir, "nation")))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q7 rollup: one Expand+aggregate pass; levels reconcile") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val df = Relational.q7(li)
    // grouping sets expand BEFORE one aggregate — three levels, one shuffle
    val p = plan(df)
    assert(p.contains("Expand"), p)
    assert(p.split("Exchange").length <= 3, s"more than agg+sort exchanges:\n$p")
    val rows = df.collect()
    val detail = rows.filter(_.getInt(5) == 0)
    val grand = rows.filter(_.getInt(5) == 3)
    assert(grand.length == 1)
    assert(detail.map(_.getLong(4)).sum == grand.head.getLong(4))
    assert(grand.head.getLong(4) == li.count())
  }

  test("q8 pivot: per-type columns reconcile with filtered aggregates") {
    val ev = Tables.load(spark, sfDir, "events")
    val rows = Relational.q8Pivot(ev).collect()
    val clicks = ev.filter(col("event_type") === "click").count()
    assert(rows.map(_.getLong(3)).sum == clicks) // n_click is col 3
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("top-k plans as TakeOrderedAndProject (no global sort)") {
    val p3 = plan(Relational.q3(Tables.load(spark, sfDir, "orders")))
    assert(p3.contains("TakeOrderedAndProject"), p3)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val pk = plan(VectorSearch.knnFlat(emb, q, "vec_id", "embedding", 10, "cosine"))
    assert(pk.contains("TakeOrderedAndProject"), pk)
    // the query vector is bound as a literal: no join, no exchange
    assert(!pk.contains("Join") && !pk.contains("Exchange"), pk)
  }

  test("knn scan reads only the needed columns") {
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val pk = plan(VectorSearch.knnFlat(emb, q, "vec_id", "embedding", 10, "cosine"))
    assert(!pk.contains("label"), "knn should not read the label column")
  }

  test("text analysis is a single stage (no shuffle before the sort)") {
    val p = plan(TextAnalysis.tokenStats(docs))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected at most the final sort exchange:\n$p")
  }

  test("unigram surprise: rare-token docs rank above boilerplate, empty doc scores 0") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"),   // duplicate — identical surprise
      (2L, "zyxwv qponm lkjih gfedc"),  // singleton tokens — max surprise
      (3L, ""))                         // no tokens
      .toDF("doc_id", "text")
    val r = TextAnalysis.unigramSurprise(corpus).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(0) == r(1), "identical docs must score identically")
    assert(r(2)._2 > r(0)._2, "singleton-token doc must out-surprise the repeated one")
    assert(r(3) == ((0L, 0.0)), "empty doc must yield (0 tokens, 0.0)")
    // surprise of an all-singletons doc in a corpus of T tokens is ln T
    val t = r.values.map(_._1).sum
    assert(math.abs(r(2)._2 - math.log(t.toDouble)) < 1e-6)
  }

  test("bigram surprise: shared phrasing scores low, novel ordering high, short docs 0") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat"),  // same bigrams — identical, low
      (2L, "mat the on sat cat the"),  // same unigrams, novel bigrams
      (3L, "one"))                     // no bigrams
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramSurprise(corpus).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r(0) == r(1), "identical docs must score identically")
    assert(r(2)._2 > r(0)._2,
      s"novel word order must out-surprise shared phrasing: ${r(2)} vs ${r(0)}")
    assert(r(3) == ((0L, 0.0)), "sub-bigram doc must yield (0, 0.0)")
  }

  test("incremental dedup: linear output consistent with the full pair join") {
    val split = pmod(col("doc_id"), lit(10)) === 7
    val inc = Dedup.minhashIncremental(docs.filter(split), docs.filter(!split))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // one row per new doc
    assert(inc.map(_._1).distinct.length == inc.length)
    // cross-check against the symmetric pair join: straddling pairs,
    // keyed by the new-side doc
    val pairs = Dedup.minhashLsh(docs).collect()
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b, j), (b, a, j))
      }
      .filter { case (n, o, _) => n % 10 == 7 && o % 10 != 7 }
    val best = pairs.groupBy(_._1).map { case (n, ps) =>
      val top = ps.maxBy(p => (p._3, -p._2))
      (n, top._2, top._3)
    }.toSet
    assert(inc.toSet == best,
      s"incremental/full disagreement: ${inc.toSet.diff(best)} vs ${best.diff(inc.toSet)}")
    assert(inc.nonEmpty, "expected straddling near-dups in testdata")
  }

  test("IVF recall sweep: complete grid, monotone in depth, exact at full recall") {
    val corpus = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val (model, _) = IvfIndex.build(corpus, "embedding")
    val centers = IvfIndex.centersOf(model)
    val assigned = IvfIndex.assignExact(corpus, "embedding", centers)
    val r = IvfIndex.recallSweep(assigned, centers, qs, "vec_id", "embedding", 10,
      Seq(1, 2, 4)).collect()
      .map(x => (x.getLong(0), x.getInt(1)) -> x.getDouble(2)).toMap
    // complete (query x depth) grid, recall in [0,1]
    assert(r.size == 5 * 3)
    assert(r.values.forall(v => v >= 0.0 && v <= 1.0))
    // deeper probes never lose recall
    for (q <- 0L until 5L) {
      assert(r((q, 1)) <= r((q, 2)) && r((q, 2)) <= r((q, 4)),
        s"recall not monotone for query $q")
    }
    // the deepest depth's recall equals a direct probe-vs-exact count
    val probed = IvfIndex.searchBatch(assigned, model, qs, "vec_id", "embedding",
      10, nProbe = 4).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = VectorSearch.knnBatch(corpus, qs, "vec_id", "embedding", 10,
      "cosine").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    for (q <- 0L until 5L) {
      val hits = probed.filter(_._1 == q).count(exact)
      assert(r((q, 4)) == hits / 10.0, s"depth-4 recall mismatch for query $q")
    }
  }

  test("index advisor: size thresholds pick flat/ivf/ivfpq with sqrt-n cells") {
    import spark.implicits._
    def adv(n: Long) = Advisor.indexAdvisor(
      spark.range(n).select(array(lit(0.1f), lit(0.2f)).as("embedding")))
      .collect()(0)
    val flat = adv(5000)
    assert(flat.getString(2) == "flat" && flat.getInt(3) == 0 && flat.getInt(4) == 0)
    assert(flat.getLong(5) == 5000L, "flat scans the whole corpus")
    val ivf = adv(250000)
    assert(ivf.getString(2) == "ivf")
    assert(ivf.getInt(3) == math.ceil(math.sqrt(250000.0)).toInt) // 500 cells
    assert(ivf.getInt(4) == math.ceil(500 / 16.0).toInt)          // 32 probes
    assert(ivf.getLong(5) == 500L)                                // n / cells
    val pq = adv(2000000)
    assert(pq.getString(2) == "ivfpq" && pq.getInt(3) == 1415)
    assert(flat.getInt(1) == 2, "dimension from the vector column")
  }
}
