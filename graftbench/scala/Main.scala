package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its raw observations as
  * JSON; `run.py` computes the metrics from them.
  *
  * Usage: Main --workload serve|lifecycle --seed N --seconds S
  *             --trace 0|1 --work DIR --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    require(Set("serve", "lifecycle")(workload), s"unknown workload $workload")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val tracer = new Tracer(spark.sparkContext, traced)
    val root = work.resolve("library")
    val gc0 = Disk.gcMs()
    // Both workloads build the grid index only: the partitioned LSH
    // build (~16 s) and IVF-PQ training (~12 s) are floor-bound at this
    // size and would dominate every run. The lsh path runs through
    // searchApprox over the store's bucket column.
    val paths = if (workload == "serve") Seq("flat", "quantized", "lsh", "grid") else Seq("grid")
    val lib = new Library(spark, root, seed, nDocs = 1000, paths, tracer, rec)
    def loopStart(): Unit =
      rec.scalars("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      workload match {
        case "serve" => Serve.run(lib, seed, seconds, cores, () => loopStart())
        case "lifecycle" => Lifecycle.run(lib, seed, seconds, () => loopStart())
      }
      lib.residue(gc0)
    } catch { case t: Throwable =>
      rec.check(s"workload threw $t", ok = false)
    } finally {
      tracer.close()
      Disk.delete(root)
    }
    Files.write(out, Json.record(workload, rec, tracer).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def record(workload: String, rec: Record, tr: Tracer): String = {
    val spans = tr.allSpans.map(s => arr(Seq(s.id, s.parent, s.opId, s.startNs, s.endNs)
      .map(_.toString) ++ Seq(str(s.op), str(s.name))))
    val counters = tr.countersByOp.map { case (name, c) =>
      str(name) -> arr(Seq(c.jobs, c.tasks, c.cpuNs, c.waitMs, c.shuffleBytes).map(_.toString))
    }
    obj(Seq(
      "workload" -> str(workload),
      "attempted" -> rec.attempted.toString, "failed" -> rec.failed.toString,
      "errors" -> arr(rec.errors.map(str)),
      "scalars" -> obj(rec.scalars.map { case (k, v) => k -> num(v) }),
      "ops" -> arr(rec.ops.map(o => arr(Seq(str(o.op), num(o.ms), o.ok.toString, o.traced.toString)))),
      "recalls" -> arr(rec.recalls.map { case (p, r) => arr(Seq(str(p), num(r))) }),
      "call_ms" -> arr(rec.callMs.map { case (o, ms) => arr(Seq(str(o), num(ms))) }),
      "plans" -> obj(rec.planHashes.map { case (o, hs) => o -> hs.size.toString }),
      "bytes_written" -> arr(rec.bytesWritten.map { case (o, b) => arr(Seq(str(o), num(b))) }),
      "spans" -> arr(spans),
      "counters" -> arr(counters.map { case (o, c) => arr(Seq(o, c)) })))
  }
}
