package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.{Pipeline, ScaleCorpus, Sessions, SparkEntry, Tables}
import graft.ops.TxTable

/** Order-insensitive checksum of a Dataset's full output: the row count and
  * the wrapping sum of an xxHash64 of every row's binary form. It runs the
  * terminal action through the Dataset's OWN QueryExecution (no `select`,
  * no `count()`), so every output column is computed and the plan that ran
  * is the one whose planning phases are read afterwards.
  */
object Checksum {
  def of(df: DataFrame): (Long, Long) = {
    val qe    = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench checksum")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(types)
        var n = 0L
        var s = 0L
        while (it.hasNext) {
          val u = proj(it.next())
          s += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, s))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def render(c: (Long, Long)): String = s"${c._1}:${java.lang.Long.toHexString(c._2)}"
}

/** The benchmark's JVM side, started by `run.py` in one of two modes.
  * `prepare` builds and checks the ×10 corpus and exits, so every timed JVM
  * starts cold. `run` starts the session and registers the inputs, timed
  * from process start (`--launched-ns`, taken by `run.py` just before it
  * starts the JVM), then makes a cold pass over the workload's jobs, then
  * a fixed number of warm passes. The set-up, every job and every pass
  * become one JSON line each in `--out`; `run.py` turns those into metrics.
  * With `--trace 1` it also keeps spans (workload → pass → job → build |
  * execute | catalyst phases → Spark job → stage) and writes them to
  * `--spans`; it then runs at least five warm passes, some untraced, so the
  * tracing overhead is measured in the same session.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Records(a("out"))
    a("mode") match {
      case "prepare" => buildCorpus(a("corpus"), a("corpus-src"), a("corpus-expect"), out)
      case "run"     => run(a, out)
    }
    out.close()
  }

  private def workload(a: Map[String, String]): Workload = a("kind") match {
    case "queries" => new QueryWorkload(a("jobs").split(",").toSeq, a("data"),
      a("input-rows").toLong)
    case "cortex"  => new CortexWorkload(a("uploads").split(",").toSeq, a("txroot"),
      readExpected(a("expect")))
  }

  /** Process start → `Sessions.local` ready and the inputs registered. */
  private def setUp(a: Map[String, String], workload: Workload, tracer: Tracer, root: Long,
      out: Records): SparkSession = {
    val launched = a("launched-ns").toLong
    val s0    = tracer.now()
    val spark = Sessions.local()
    val s1    = tracer.now()
    workload.register(spark)
    val s2    = tracer.now()
    tracer.record(tracer.newId(), root, "setup", launched, s2)
    out.emit("setup", "s" -> (s2 - launched) / 1e9, "session_s" -> (s1 - s0) / 1e9)
    spark
  }

  private def run(a: Map[String, String], out: Records): Unit = {
    import out.emit
    val traceRun = a("trace") == "1"
    val tracer   = new Tracer(traceRun)
    val root     = tracer.newId()
    val t0       = tracer.now()
    val workload = Main.workload(a)
    val spark    = setUp(a, workload, tracer, root, out)
    val sc       = spark.sparkContext
    val recorder = new Recorder(tracer)
    sc.addSparkListener(recorder)

    // --- passes ------------------------------------------------------------
    // The cold pass runs the jobs in their frozen order, so cold figures
    // compare like with like. Then a fixed number of warm passes in the
    // seed's order: the session is still warming up over these passes, so
    // a count set by elapsed time would move the fastest pass with host
    // speed.
    // `--cap-seconds` only stops a pathologically slow run early.
    val warmOrder = a.get("warm-jobs").fold(workload.jobs)(_.split(",").toSeq)
    val warm      = a("warm-passes").toInt max (if (traceRun) 5 else 1)
    val cap       = (a("cap-seconds").toDouble * 1e9).toLong
    var deadline  = Long.MaxValue
    var pass      = 0
    while (pass <= warm && (pass <= 1 || tracer.now() <= deadline)) {
      // The cold and first warm pass are traced; from the second warm pass
      // on, passes go untraced, traced, traced, untraced, … so the session's
      // warm-up drift cancels out of the measured tracing overhead.
      val traced = traceRun && (pass <= 1 || pass % 4 == 3 || pass % 4 == 0)
      tracer.on = traced
      val passId = tracer.newId()
      Bus.flush(sc)
      val before = recorder.snapshot()
      val cg0    = codegen()
      val p0     = tracer.now()
      (if (pass == 0) workload.jobs else warmOrder).foreach { job =>
        val jobId = tracer.newId()
        val j0    = tracer.now()
        val rec   = workload.run(spark, job, tracer, jobId)
        val j1    = tracer.now()
        tracer.record(jobId, passId, "job", j0, j1, "job" -> job, "ok" -> rec.error.isEmpty)
        emit("job", Seq("pass" -> pass, "traced" -> traced, "name" -> job,
          "wall_s" -> (j1 - j0) / 1e9, "error" -> rec.error.orNull) ++ rec.fields: _*)
        // jobs are independent: drop whatever a job pinned, outside its timing
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      val p1 = tracer.now()
      Bus.flush(sc)
      val delta  = recorder.snapshot().zip(before).map { case (x, y) => x - y }
      val cg1    = codegen()
      // past the reservoir's size the sum no longer covers every
      // compilation; the pass's compilations × sampled mean estimates it
      val cgMs   = if (cg1._1 <= ReservoirSize) (cg1._2 - cg0._2).toDouble
                   else (cg1._1 - cg0._1) * cg1._3
      val counts = Recorder.Counters.zip(delta) ++ Seq(
        "codegen_compilations" -> (cg1._1 - cg0._1), "codegen_ms" -> cgMs)
      tracer.record(passId, root, "pass", p0, p1, ("pass" -> pass) +: counts: _*)
      emit("pass", Seq("pass" -> pass, "traced" -> traced, "wall_s" -> (p1 - p0) / 1e9) ++
        counts: _*)
      tracer.on = traceRun
      System.gc()
      Thread.sleep(100)
      if (pass == 0) deadline = tracer.now() + cap
      pass += 1
    }

    // --- end of run: retained heap, host, config -------------------------
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc(); Thread.sleep(200); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.codegen.cache.maxEntries")
      .map(k => k -> spark.conf.getOption(k).orNull) :+
      ("jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20)) :+
      ("jvm_gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).mkString(","))
    emit("end", "retained_heap_mb" -> heap / 1048576.0, "input_bytes" -> workload.inputBytes,
      "input_rows" -> workload.inputRows, "host" -> Host.fingerprint(a("work")).toMap,
      "session" -> conf.toMap)
    tracer.record(root, 0L, "workload", t0, tracer.now(), "workload" -> a("workload"))
    a.get("spans").foreach(tracer.write)
    spark.stop()
  }

  /** Janino compilations so far, the sum of their recorded milliseconds
    * and their mean. The timing histogram keeps every sample until it holds
    * [[ReservoirSize]], so the sum is exact up to there.
    */
  private def codegen(): (Long, Long, Double) = {
    val s = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, s.getValues.sum, s.getMean)
  }

  private val ReservoirSize = 1028

  private def readExpected(path: String): Map[String, Long] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v.toLong
    }.toMap

  /** Builds the ×10 corpus with `ScaleCorpus` once per checkout and checks
    * every table's row count and content checksum before anything is
    * timed. The stamp file marks a corpus that passed the check.
    */
  private def buildCorpus(dir: String, src: String, expectPath: String, out: Records): Unit = {
    val stamp = new File(dir, "_VERIFIED")
    if (stamp.exists()) return
    ScaleCorpus.main(Array("10", dir)) // reads SPARK_GRAFT_SF_DIR = src; stops its session
    val expected = scala.io.Source.fromFile(expectPath, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t", 2)).map(p => p(0) -> p(1)).toMap
    val spark = Sessions.local()
    val bad = Tables.names.flatMap { t =>
      val got = Checksum.render(Checksum.of(Tables.t(spark, dir, t)))
      out.emit("corpus_table", "table" -> t, "checksum" -> got)
      if (expected.isEmpty || expected.get(t).contains(got)) None else Some(s"$t=$got")
    }
    spark.stop()
    require(bad.isEmpty, s"x10 corpus differs from the recorded one: ${bad.mkString(", ")}" +
      s" (source $src)")
    if (expected.nonEmpty) java.nio.file.Files.writeString(stamp.toPath, "ok\n")
  }
}

/** The run's result records, one JSON object per line. */
final class Records(path: String) {
  private val w = new java.io.PrintWriter(path, "UTF-8")
  def emit(kind: String, fields: (String, Any)*): Unit = {
    w.println(Json.obj(("type" -> kind) +: fields))
    w.flush()
  }
  def close(): Unit = w.close()
}

/** What one job reports besides its wall time. */
final case class JobResult(error: Option[String], fields: Seq[(String, Any)])

trait Workload {
  def jobs: Seq[String]
  def register(spark: SparkSession): Unit
  def run(spark: SparkSession, job: String, tracer: Tracer, jobSpan: Long): JobResult
  def inputBytes: Long
  def inputRows: Long

  protected def message(e: Throwable): String =
    e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200)

  protected def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  /** Runs `body` as a child span of `parent`, with Spark jobs it submits
    * parented to that span.
    */
  protected def phase[T](spark: SparkSession, tracer: Tracer, parent: Long, name: String)
      (body: => T): (T, Double) = {
    val id = tracer.newId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val s0 = tracer.now()
    try {
      val r = body
      (r, (tracer.now() - s0) / 1e9)
    } finally {
      sc.setLocalProperty(Recorder.SpanKey, null)
      tracer.record(id, parent, name, s0, tracer.now())
    }
  }
}

/** `SparkEntry.queries` over a parquet directory. A job builds the query
  * (the closure call) and then consumes its full output with [[Checksum]].
  */
final class QueryWorkload(val jobs: Seq[String], dir: String, val inputRows: Long)
    extends Workload {
  private val all = SparkEntry.queries
  jobs.foreach(j => require(all.contains(j), s"unknown query $j"))

  def register(spark: SparkSession): Unit = Tables.registerAll(spark, dir)

  def run(spark: SparkSession, job: String, tracer: Tracer, jobSpan: Long): JobResult = {
    var times = Seq.empty[(String, Any)]
    try {
      val (df, b) = phase(spark, tracer, jobSpan, "build")(all(job)(spark, dir))
      times = Seq("build_s" -> b)
      val (sum, e) = phase(spark, tracer, jobSpan, "execute")(Checksum.of(df))
      times :+= "exec_s" -> e
      val phases = df.queryExecution.tracker.phases
      phases.foreach { case (name, p) =>
        tracer.record(tracer.newId(), jobSpan, name, tracer.fromMillis(p.startTimeMs),
          tracer.fromMillis(p.endTimeMs))
      }
      JobResult(None, times ++ Seq("checksum" -> Checksum.render(sum)) ++
        phases.toSeq.map { case (name, p) => s"${name}_ms" -> p.durationMs })
    } catch {
      case e: Throwable => JobResult(Some(message(e)), times)
    }
  }

  def inputBytes: Long = Tables.names.map(t => dirBytes(new File(s"$dir/$t.parquet"))).sum
}

/** The reference product on CSV uploads: `spark.read.csv` → `Pipeline.run`
  * → one four-table `TxTable.commit` → `TxTable.read` of every table,
  * checked against counts the generator computed on its own.
  */
final class CortexWorkload(uploads: Seq[String], txRoot: String, expected: Map[String, Long])
    extends Workload {
  val jobs: Seq[String] = Seq("cortex_etl")
  private var inputs: Seq[DataFrame] = Nil

  def register(spark: SparkSession): Unit =
    inputs = uploads.map(p => spark.read.option("header", "true").csv(p))

  def inputBytes: Long = uploads.map(p => new File(p).length()).sum
  def inputRows: Long = expected("input.rows")

  def run(spark: SparkSession, job: String, tracer: Tracer, jobSpan: Long): JobResult = {
    var times = Seq.empty[(String, Any)]
    try {
      val (catalog, b) = phase(spark, tracer, jobSpan, "Pipeline.build")(Pipeline.run(inputs))
      val before = parquetFiles(new File(txRoot)).toMap
      val (_, c) = phase(spark, tracer, jobSpan, "TxTable.commit") {
        TxTable.commit(spark, txRoot, catalog.toSeq.map { case (n, df) => (n, "replace", df) })
      }
      // by path: the commit may also delete files of superseded versions
      val written = parquetFiles(new File(txRoot)).filterNot(f => before.contains(f._1))
      val (got, r) = phase(spark, tracer, jobSpan, "TxTable.read")(observe(spark))
      times = Seq("build_s" -> b, "commit_s" -> c, "read_s" -> r,
        "output_files" -> written.size, "output_bytes" -> written.map(_._2).sum)
      val diff = (expected.keySet - "input.rows" ++ got.keySet).toSeq.sorted
        .filter(k => expected.get(k) != got.get(k))
        .map(k => s"$k expected ${expected.get(k).fold("none")(_.toString)}" +
          s" got ${got.get(k).fold("none")(_.toString)}")
      JobResult(diff.headOption.map("read-back mismatch: " + _), times)
    } catch {
      case e: Throwable => JobResult(Some(message(e)), times)
    }
  }

  private def parquetFiles(f: File): Seq[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f.getPath -> f.length())
    else Nil

  private def observe(spark: SparkSession): Map[String, Long] = {
    val base = TxTable.read(spark, txRoot, "base_limpa")
      .agg(count(lit(1)), count(col("ipv4")), count(col("ipv6")), count(col("last_seen")),
        sum(col("endpoint_id").cast("long")))
      .head()
    def groups(table: String): Seq[(String, Long)] =
      TxTable.read(spark, txRoot, table).collect().toSeq.map { r =>
        s"$table.${if (r.isNullAt(0)) "\\N" else r.get(0).toString}" -> r.getLong(1)
      }
    Map("base_limpa.rows" -> base.getLong(0), "base_limpa.ipv4" -> base.getLong(1),
      "base_limpa.ipv6" -> base.getLong(2), "base_limpa.last_seen" -> base.getLong(3),
      "base_limpa.id_sum" -> base.getLong(4),
      "falhas_upgrade.rows" -> TxTable.read(spark, txRoot, "falhas_upgrade").count()) ++
      groups("resumo_status") ++ groups("resumo_os")
  }
}

/** Host fingerprint, as `graft.Bench` takes it: cpu model, cores, a fixed
  * single-thread xorshift calibration (millions of iterations per second)
  * and a buffered-write-plus-fsync rate. Taken after the measuring window,
  * so it cannot perturb what it describes.
  */
object Host {
  def fingerprint(workDir: String): Seq[(String, Any)] = {
    val cpu = try {
      val src = scala.io.Source.fromFile("/proc/cpuinfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("model name") => l.split(":", 2)(1).trim
      }.getOrElse("unknown") finally src.close()
    } catch { case _: Throwable => "unknown" }
    var x = 0x9E3779B97F4A7C15L
    var blocks = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) {
      var j = 0
      while (j < 1000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
      blocks += 1
    }
    val mops = (blocks ^ (x & 1L)) * 1e9 / (System.nanoTime() - t0)
    Seq("cpu" -> cpu, "cores" -> Runtime.getRuntime.availableProcessors(),
      "xorshift_mops" -> mops, "disk_w_mbps" -> diskWriteMbps(workDir))
  }

  private def diskWriteMbps(dir: String): Double = {
    val f = new File(dir, "host_io_probe.bin")
    try {
      val buf = new Array[Byte](1 << 20)
      java.util.Arrays.fill(buf, 0x5A.toByte)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        for (_ <- 1 to 32) out.write(buf)
        out.getFD.sync()
      } finally out.close()
      32.0 / ((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => -1.0 }
    finally { f.delete(); () }
  }
}
