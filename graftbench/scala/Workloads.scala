package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.VectorLibrary

/** Exact cosine top-k by brute force over a snapshot of the store. */
final class Exact(ids: Array[String], vecs: Array[Array[Double]]) {
  private val index: Map[String, Int] = ids.zipWithIndex.toMap

  /** Cosine rounded to six places, as the library reports it. */
  def score(q: Array[Double], i: Int): Double = {
    val v = vecs(i); var d = 0.0; var i2 = 0
    while (i2 < v.length) { d += v(i2) * q(i2); i2 += 1 }
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
  def scoreOf(q: Array[Double], id: String): Option[Double] = index.get(id).map(score(q, _))

  /** (chunk_id, score) ordered by score desc, chunk_id asc. */
  def top(q: Array[Double], k: Int): IndexedSeq[(String, Double)] =
    ids.indices.map(i => (ids(i), score(q, i)))
      .sortBy { case (id, s) => (-s, id) }.take(k)
}

object Exact {
  def unit(v: Seq[Float]): Array[Double] = {
    val a = v.map(_.toDouble).toArray
    val n = math.sqrt(a.map(x => x * x).sum)
    if (n == 0) a else a.map(_ / n)
  }
  def of(lib: VectorLibrary): Exact = {
    val rows = lib.chunks.where(col("embedding").isNotNull)
      .select(col("chunk_id"), col("embedding")).collect()
    new Exact(rows.map(_.getString(0)), rows.map(r => unit(r.getSeq[Float](1))))
  }
}

/** Outcome of comparing one top-10 answer with the exact top-10. */
final case class Verdict(ok: Boolean, recall: Double, why: String)

object Check {
  val Tol = 2e-6

  /** `exactPath` answers must equal the exact top-k up to ties within
    * `Tol` of the k-th score; an approximate answer only has to be
    * well-formed, and its recall counts hits at or above that score. */
  def topK(got: Seq[(String, Double)], q: Array[Double], ex: Exact, k: Int,
           exactPath: Boolean): Verdict = {
    val want = ex.top(q, k)
    if (want.isEmpty) return Verdict(got.isEmpty, 1.0, "empty store")
    val kth = want.last._2
    val scored = got.map { case (id, s) => (id, s, ex.scoreOf(q, id)) }
    val unknown = scored.collect { case (id, _, None) => id }
    val badScore = scored.collect {
      case (id, s, Some(e)) if math.abs(s - e) > 1e-4 => s"$id:$s!=$e" }
    val hits = scored.count { case (_, _, e) => e.exists(_ >= kth - Tol) }
    val recall = math.min(hits, want.size).toDouble / want.size
    val dupes = got.size != got.map(_._1).distinct.size
    val why =
      if (unknown.nonEmpty) s"ids not in store: ${unknown.take(3).mkString(",")}"
      else if (dupes) "duplicate ids"
      else if (got.size != want.size) s"${got.size} rows, expected ${want.size}"
      else if (badScore.nonEmpty) s"scores differ: ${badScore.take(3).mkString(",")}"
      else if (exactPath && hits < want.size) s"recall $recall on an exact path"
      else ""
    Verdict(why.isEmpty, recall, why)
  }
}

/** Raw observations of one run; run.py turns them into metrics. */
final class Record {
  final case class Op(op: String, ms: Double, ok: Boolean, traced: Boolean)
  val ops = ArrayBuffer.empty[Op]
  val recalls = ArrayBuffer.empty[(String, Double)]
  val errors = ArrayBuffer.empty[String]
  val scalars = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val callMs = ArrayBuffer.empty[(String, Double)]
  val planHashes = scala.collection.mutable.HashMap.empty[String, Set[Int]]
  val bytesWritten = ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L

  def op(o: String, ms: Double, ok: Boolean, traced: Boolean): Unit = synchronized {
    ops += Op(o, ms, ok, traced); attempted += 1; if (!ok) failed += 1
  }
  def fail(what: String): Unit = synchronized {
    if (errors.size < 20) errors += what
  }
  /** A check that is not itself a timed operation. */
  def check(what: String, ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; fail(s"check failed: $what") }
  }
  def recall(path: String, r: Double): Unit = synchronized { recalls += ((path, r)) }
  def call(o: String, ms: Double): Unit = synchronized { callMs += ((o, ms)) }
  def plan(o: String, h: Int): Unit = synchronized {
    planHashes(o) = planHashes.getOrElse(o, Set.empty[Int]) + h
  }
}

/** A library built from generated documents — the set-up both workloads
  * share. `paths` are the search paths a workload reads through: `lsh`
  * goes through `searchApprox`, every other path through `search` on a
  * handle whose algorithm is that path. With one non-lsh path the
  * writing handle itself serves it: a handle sees another handle's
  * commits only at its own next mutation, so reads after writes must go
  * through the writer. */
final class Library(val spark: SparkSession, val root: Path, seed: Long, nDocs: Int,
                    val paths: Seq[String],
                    val tracer: Tracer, val rec: Record) {
  import spark.implicits._
  val name = "bench"
  val docs: IndexedSeq[Gen.Doc] = Gen.documents(seed, nDocs)
  val textBytes: Long = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
  val lib = new VectorLibrary(spark, root.toString, name)
  private lazy val handles: Map[String, VectorLibrary] = paths.filter(_ != "lsh") match {
    case Seq(only) => lib.setAlgorithm(only); Map(only -> lib)
    case many => many.map { p =>
      val h = new VectorLibrary(spark, root.toString, name); h.setAlgorithm(p); p -> h
    }.toMap
  }

  /** Opens the search handles; setting a handle's algorithm writes the
    * library metadata, so this belongs to set-up. */
  def openHandles(): Unit = handles

  def docFrame(ds: Seq[Gen.Doc]): DataFrame =
    ds.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  /** Times an eager library call as one operation; None when it threw. */
  def timed[A](op: String)(body: => A): Option[(A, Double)] = {
    val t0 = System.nanoTime()
    try {
      val a = tracer.op(op)(tracer.span(s"VectorLibrary.$op")(body))
      val ms = (System.nanoTime() - t0) / 1e6
      rec.op(op, ms, ok = true, traced = tracer.active)
      Some((a, ms))
    } catch { case t: Throwable =>
      rec.op(op, (System.nanoTime() - t0) / 1e6, ok = false, traced = tracer.active)
      rec.fail(s"$op: $t")
      None
    }
  }

  /** Ingest, then the grid index build; returns the chunk count. */
  def build(): Long = {
    val ingest = timed("ingest")(lib.addDocuments(docFrame(docs)))
    val n = lib.chunks.count()
    rec.check(s"ingested chunks $n == ${docs.map(Gen.chunkCount(_)).sum}",
      n == docs.map(Gen.chunkCount(_)).sum)
    timed("build.grid")(lib.buildGridIndex())
    rec.scalars("ingest_chunks_per_s") = ingest.map(i => n / (i._2 / 1e3)).getOrElse(0.0)
    n
  }

  /** Final-plan fingerprint: the executed operator tree's node names. */
  private def planHash(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def names(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => names(a.executedPlan)
      case s: QueryStageExec => names(s.plan)
      case other => other.nodeName +: other.children.flatMap(names)
    }
    names(df.queryExecution.executedPlan).mkString(",").hashCode
  }

  /** One single-query search through `path`: (hits, latency ms). */
  def search(op: String, path: String, text: String): Option[(Seq[(String, Double)], Double)] = {
    val t0 = System.nanoTime()
    try {
      val rows = tracer.op(op) {
        val df = tracer.span(s"VectorLibrary.$path") {
          if (path == "lsh") lib.searchApprox(text, 10) else handles(path).search(text, 10)
        }
        rec.call(op, (System.nanoTime() - t0) / 1e6)
        val r = tracer.span("spark.collect")(df.collect())
        rec.plan(op, planHash(df))
        r
      }
      val ms = (System.nanoTime() - t0) / 1e6
      Some((rows.map(r => (r.getAs[String]("chunk_id"), r.getAs[Double]("score"))).toSeq, ms))
    } catch { case t: Throwable =>
      rec.fail(s"$op: $t"); None
    }
  }

  /** One batch search through `path`: (query index -> hits, latency ms). */
  def batch(path: String, texts: Seq[String]): Option[(Map[Int, Seq[(String, Double)]], Double)] = {
    val t0 = System.nanoTime()
    try {
      val rows = tracer.op("batch") {
        val df = tracer.span(s"VectorLibrary.batch.$path") {
          if (path == "lsh") lib.searchApproxBatch(texts, 10)
          else handles(path).searchBatch(texts, 10)
        }
        rec.call("batch", (System.nanoTime() - t0) / 1e6)
        val r = tracer.span("spark.collect")(df.collect())
        rec.plan("batch", planHash(df))
        r
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val hits = rows.toSeq.groupBy(_.getAs[Long]("query_id").toInt).map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[String]("chunk_id"), r.getAs[Double]("score")))
          .sortBy { case (id, s) => (-s, id) }
      }
      Some((hits, ms))
    } catch { case t: Throwable =>
      rec.fail(s"batch.$path: $t"); None
    }
  }

  /** Query vectors, embedded by the library's default embedder. */
  def queryVectors(texts: Seq[String]): Map[String, Array[Double]] = {
    val e = new graft.DeterministicEmbedder(64, 42L)
    texts.distinct.toDF("t").select(col("t"), e.embed(col("t"), "search_query").as("v"))
      .collect().map(r => r.getString(0) -> Exact.unit(r.getSeq[Float](1))).toMap
  }

  /** compactIndexes, then repairIndexes three times: `maintenance_s`
    * is the compaction plus the median repair. */
  def maintain(): Unit = {
    val c = timed("compact")(lib.compactIndexes())
    val r = (1 to 3).flatMap(_ => timed("repair")(lib.repairIndexes()).map(_._2 / 1e3))
    rec.scalars("maintenance_s") = c.map(_._2 / 1e3).getOrElse(0.0) + Library.median(r)
    rec.scalars("space_amp") = Disk.bytes(root).toDouble / textBytes
  }

  /** Files and bytes of each manifested tree, residue left in the
    * session, and GC time — recorded at the end of every run. */
  def residue(gcStartMs: Long): Unit = {
    Seq("store" -> "chunks", "grid" -> "grid_index").foreach { case (t, dir) =>
      val p = root.resolve(name).resolve(dir)
      rec.scalars(s"ManifestedTree.files.$t") = Disk.files(p).toDouble
      rec.scalars(s"ManifestedTree.bytes.$t") = Disk.bytes(p).toDouble
    }
    val sc = spark.sparkContext
    rec.scalars("GraftFunctions.live_pins") = sc.getPersistentRDDs.size.toDouble
    rec.scalars("GraftFunctions.cached_bytes") =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
    rec.scalars("jvm.gc_s") = (Disk.gcMs() - gcStartMs) / 1e3
  }
}

object Library {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Disk {
  private def walk[A](p: Path)(f: java.util.stream.Stream[Path] => A): A = {
    val s = Files.walk(p)
    try f(s) finally s.close()
  }
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else walk(p)(_.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())
  def files(p: Path): Long =
    if (!Files.exists(p)) 0L else walk(p)(_.filter(Files.isRegularFile(_)).count())
  def delete(p: Path): Unit = if (Files.exists(p)) walk(p) { s =>
    s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
  }
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** `serve`: a read-only library and `callers` closed-loop callers. Each
  * caller sends single searches rotating over the paths; every
  * tenth request is a 32-query batch. Callers never release pins. */
object Serve {
  def run(l: Library, seed: Long, seconds: Double, callers: Int, loopStart: () => Unit): Unit = {
    val rec = l.rec
    val ingested = l.build()
    val texts = Gen.queries(seed, 256)
    val qv = l.queryVectors(texts)
    val exact = Exact.of(l.lib)
    l.openHandles()
    // warm each path once: first-use costs belong to set-up
    l.paths.foreach(p => l.search(s"warm.$p", p, texts(0)))
    l.batch("flat", texts.take(32))
    loopStart()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until callers).map { c =>
      new Thread(() => {
        val r = new Random(seed * 31 + c)
        var i = 0
        // a traced run traces every other request, batches included
        while (System.nanoTime() < deadline) l.tracer.muting((i + i / 10) % 2 == 1) {
          val path = l.paths((i + c) % l.paths.size)
          if (i % 10 == 9) {
            val qs = IndexedSeq.fill(32)(texts(r.nextInt(texts.size)))
            l.batch(path, qs) match {
              case Some((hits, ms)) =>
                val vs = qs.indices.map { q =>
                  val v = Check.topK(hits.getOrElse(q, Seq.empty), qv(qs(q)), exact, 10,
                    exactPath = path == "flat")
                  if (!v.ok) rec.fail(s"batch.$path '${qs(q)}': ${v.why}")
                  if (path != "flat") rec.recall(path, v.recall)
                  v.ok
                }
                rec.op("batch", ms, vs.forall(identity), l.tracer.active)
              case None => rec.op("batch", 0, ok = false, l.tracer.active)
            }
          } else {
            val q = texts(r.nextInt(texts.size))
            val op = s"search.$path"
            l.search(op, path, q) match {
              case Some((hits, ms)) =>
                val v = Check.topK(hits, qv(q), exact, 10, exactPath = path == "flat")
                if (!v.ok) rec.fail(s"$op '$q': ${v.why}")
                if (path != "flat") rec.recall(path, v.recall)
                rec.op(op, ms, v.ok, l.tracer.active)
              case None => rec.op(op, 0, ok = false, l.tracer.active)
            }
          }
          i += 1
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    rec.scalars("loop_s") = (System.nanoTime() - t0) / 1e9
    rec.scalars("check_s") = 0.0
    l.maintain()
    val n = l.lib.chunks.count()
    rec.check(s"chunk count $n unchanged after maintenance", n == ingested)
  }
}

/** `lifecycle`: one caller mutating a fresh library. Rounds of update,
  * append and delete, one per `RoundSeconds` of `seconds`: the script
  * is fixed by the arguments, so a slower machine does not write less
  * (disk use and per-write costs would change with it). After every
  * mutation the writing handle answers one search through its grid
  * index (read-after-write). Then compaction, repair and a restore of
  * the last delete. */
object Lifecycle {
  /** Nominal length of one round on a 4-core machine. */
  val RoundSeconds = 6.0

  def run(l: Library, seed: Long, seconds: Double, loopStart: () => Unit): Unit = {
    import l.spark.implicits._
    val rec = l.rec
    val lib = l.lib
    val ingested = l.build()
    val texts = Gen.queries(seed, 256)
    val qv = l.queryVectors(texts)
    val r = new Random(seed * 131 + 7)
    l.openHandles()
    // live documents -> their chunk counts, kept by the benchmark
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Int] ++=
      l.docs.map(d => d.docId -> Gen.chunkCount(d))
    var nextId = l.docs.size.toLong
    var checkNs = 0L
    def checking[A](body: => A): A = {
      val t = System.nanoTime(); try body finally checkNs += System.nanoTime() - t
    }
    def written[A](op: String)(body: => A): A =
      if (!l.tracer.active) body
      else {
        val b0 = checking(Disk.bytes(l.root))
        val a = body
        checking(rec.bytesWritten += ((op, (Disk.bytes(l.root) - b0).toDouble)))
        a
      }
    var reads = 0
    def freshReads(): Unit = {
      val exact = checking(Exact.of(lib))
      l.paths.foreach { p => reads += 1; l.tracer.muting(reads % 2 == 0) {
        val q = texts(r.nextInt(texts.size))
        l.search("fresh_search", p, q) match {
          case Some((hits, ms)) =>
            val v = checking(Check.topK(hits, qv(q), exact, 10, exactPath = p == "flat"))
            if (!v.ok) rec.fail(s"fresh_search.$p '$q': ${v.why}")
            rec.op("fresh_search", ms, v.ok, l.tracer.active)
          case None => rec.op("fresh_search", 0, ok = false, l.tracer.active)
        }
      }}
    }
    def randomLive(): Long = live.keys.drop(r.nextInt(live.size)).head
    var restoreGen = -1L
    var lastDeleted = (-1L, 0)

    loopStart()
    val t0 = System.nanoTime()
    val rounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
    (0 until rounds).foreach { round =>
      // update: a random chunk of a random live document gets new text
      val d = randomLive()
      val chunkId = s"${l.name}#$d#${r.nextInt(live(d))}"
      val newText = Gen.chunkText(r)
      if (written("update")(l.timed("update")(lib.updateChunk(chunkId, newText))).isDefined)
        checking {
          val got = lib.chunksBatch(Seq(chunkId)).select("chunk_text").as[String].collect().toSeq
          rec.check(s"updated $chunkId reads back", got == Seq(newText))
        }
      freshReads()
      // append: two new documents
      val added = Gen.documents(seed + round + 1, 2, nextId)
      nextId += added.size
      if (written("append")(l.timed("append")(lib.addDocuments(l.docFrame(added)))).isDefined) {
        added.foreach(a => live(a.docId) = Gen.chunkCount(a))
        checking(added.foreach { a =>
          val n = lib.documentChunks(a.docId).count()
          rec.check(s"appended doc ${a.docId} has ${Gen.chunkCount(a)} chunks", n == Gen.chunkCount(a))
        })
      }
      freshReads()
      // delete: one live document; the last delete is restored later
      val victim = randomLive()
      restoreGen = checking(lib.storeGenerations().map(_._1).max)
      if (written("delete")(l.timed("delete")(lib.deleteDocuments(col("doc_id") === victim))).isDefined) {
        lastDeleted = (victim, live(victim))
        live.remove(victim)
        checking(rec.check(s"deleted doc $victim is gone",
          lib.documentChunks(victim).count() == 0))
      }
      freshReads()
    }
    rec.scalars("loop_s") = (System.nanoTime() - t0) / 1e9
    rec.scalars("check_s") = checkNs / 1e9

    // recall of the incrementally maintained grid index and of the
    // store's LSH buckets after the writes, over the whole query pool
    val exact = Exact.of(lib)
    (l.paths :+ "lsh").foreach { p =>
      l.batch(p, texts) match {
        case Some((hits, _)) => texts.indices.foreach { q =>
          val v = Check.topK(hits.getOrElse(q, Seq.empty), qv(texts(q)), exact, 10, exactPath = false)
          rec.check(s"batch.$p '${texts(q)}' after writes: ${v.why}", v.ok)
          rec.recall(p, v.recall)
        }
        case None => rec.check(s"batch.$p after writes", ok = false)
      }
    }

    l.maintain()
    val expected = live.values.sum.toLong
    val afterMaint = lib.chunks.count()
    rec.check(s"chunk count $afterMaint == ingested $ingested - deleted + appended = $expected",
      afterMaint == expected)
    if (l.timed("restore")(lib.restoreTo(restoreGen)).isDefined) {
      val (victim, n) = lastDeleted
      rec.check(s"restored doc $victim has $n chunks", lib.documentChunks(victim).count() == n)
      val total = lib.chunks.count()
      rec.check(s"chunk count after restore $total == ${expected + n}", total == expected + n)
      val reopened = new VectorLibrary(l.spark, l.root.toString, l.name).chunks.count()
      rec.check(s"a fresh handle reads $reopened == $total chunks", reopened == total)
    }
  }
}
