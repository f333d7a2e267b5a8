package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, SparkEntry}
import graft.streaming.SyncStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Benchmark JVM: runs one workload against graft's public entry points
  * and writes raw measurements to `<runDir>/result.json`. `run.py` turns
  * them into metrics and checks the outputs against DuckDB.
  *
  * Usage: `perfbench.Main <config.json>`; the config names the workload,
  * its inputs, the run directory, the measured seconds, the seed and
  * whether to trace. */
object Main {
  val Cores = 4
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: Path, value: Any): Unit = Files.writeString(path, json.writeValueAsString(value))
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(Paths.get(args(0)).toFile)
    val bench = new Bench(cfg)
    try bench.run()
    finally bench.close()
  }
}

/** One timed query execution. */
final case class OpRec(q: String, pass: Int, ms: Double, rows: Long,
    digest: Long, error: Option[String], layers: Map[String, Double])

final class Bench(cfg: JsonNode) {
  private val workload = cfg.get("workload").asText
  private val runDir = Paths.get(cfg.get("run_dir").asText).toAbsolutePath
  private val inputDir = cfg.get("input_dir").asText
  private val seconds = cfg.get("seconds").asDouble
  private val seed = cfg.get("seed").asLong
  private val tracer = new Tracer(cfg.get("trace").asBoolean)
  private val heap = new HeapSampler(tracer.enabled)
  private val rng = new scala.util.Random(seed)

  private var spark: SparkSession = _
  private var jobs: JobListener = _
  private val progress = new ProgressListener
  private var query: StreamingQuery = _

  private var setupS = 0.0
  private var sessionS = 0.0
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val passes = mutable.ArrayBuffer.empty[Double]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private var opSeq = 0

  def close(): Unit = {
    if (query != null) query.stop()
    if (spark != null) spark.stop()
  }

  def run(): Unit = {
    workload match {
      case "corpus_10x" => runQueries()
      case "sync_stream" => runStream()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (tracer.enabled) jobs.drain()
    heap.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS, "session_start_s" -> sessionS,
      "heap_peak_mb" -> heap.peakMb,
      "passes_s" -> passes,
      "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
        "q" -> o.q, "pass" -> o.pass, "ms" -> o.ms, "rows" -> o.rows,
        "digest" -> o.digest, "error" -> o.error, "layers" -> o.layers)))
    out ++= extra
    Main.writeJson(runDir.resolve("result.json"), out)
    if (tracer.enabled)
      Main.writeJson(runDir.resolve("spans.json"), tracer.spans.asScala.toSeq.sortBy(_.startNs).map(s =>
        Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "parent" -> s.parent, "op" -> s.op)))
  }

  // ---------------------------------------------------------------- set-up

  /** A session with all of its state (metastore, warehouse, durable
    * artifacts, scratch) under this run's directory: graft keeps its
    * durable state under `java.io.tmpdir`, which run.py points at a fresh
    * directory per run, so runs never share artifacts. */
  private def newSession(): SparkSession = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val t0 = System.nanoTime()
    val s = GraftSession.builder(Main.Cores, GraftSession.defaultStateDir)
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .config("spark.hadoop.hadoop.tmp.dir", tmp.resolve("hadoop").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    tracer.add("session", t0, t1, tracer.root, 0)
    sessionS = (t1 - t0) / 1e9
    if (tracer.enabled) {
      jobs = new JobListener(tracer)
      s.sparkContext.addSparkListener(jobs)
    }
    s.streams.addListener(progress)
    spark = s
    s
  }

  /** The set-up: a session, then `warm`. It is timed from JVM start, so
    * JVM start, class loading and cold JIT count in `setup_s`. */
  private def setUp(warm: => Unit): Unit = {
    heap.start()
    val t0 = System.nanoTime() - (System.currentTimeMillis() - Main.jvmStartMs) * 1000000L
    tracer.root = tracer.newId()
    newSession()
    warm
    val t1 = System.nanoTime()
    tracer.add("setup", t0, t1, 0, 0, tracer.root)
    tracer.root = 0
    setupS = (t1 - t0) / 1e9
  }

  // -------------------------------------------------------------- queries

  /** Order-insensitive digest of collected rows: doubles rounded to 7
    * significant digits so a change of summation order does not flip it. */
  private def norm(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.6e"
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case b: Array[Byte] => java.util.Arrays.toString(b)
    case other => other.toString
  }
  private def digest(rows: Array[Row]): Long =
    rows.iterator.map(r => MurmurHash3.stringHash(norm(r)).toLong & 0xffffffffL).sum

  private val lastRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** One op: construct the DataFrame through `SparkEntry.queries`, then
    * collect it to the driver as a client would. Traced runs split it into
    * construct / plan / exec spans. */
  private def runOp(q: String, pass: Int, record: Boolean): Unit = {
    opSeq += 1
    val op = opSeq
    val fn = SparkEntry.queries(q)
    val dir = inputDir
    tracer.span(spark, s"op:$q", op, tracer.root) { root =>
      val t0 = System.nanoTime()
      try {
        var tc, tp = t0
        var constructSpan, execSpan = 0
        val df = tracer.span(spark, "construct", op, root) { id =>
          constructSpan = id; val d = fn(spark, dir); tc = System.nanoTime(); d }
        if (tracer.enabled) tracer.span(spark, "plan", op, root) { _ => df.queryExecution.executedPlan; tp = System.nanoTime() }
        else tp = tc
        val rows = tracer.span(spark, "exec", op, root) { id => execSpan = id; df.collect() }
        val t1 = System.nanoTime()
        val layers =
          if (!tracer.enabled) Map.empty[String, Double]
          else {
            val (files, srows, sms) = PlanMetrics.scans(df.queryExecution.executedPlan)
            Map("construct_ms" -> (tc - t0) / 1e6, "plan_ms" -> (tp - tc) / 1e6,
              "exec_ms" -> (t1 - tp) / 1e6, "construct_span" -> constructSpan.toDouble,
              "exec_span" -> execSpan.toDouble,
              "scan_files" -> files.toDouble, "scan_rows" -> srows.toDouble, "scan_ms" -> sms.toDouble)
          }
        if (record) {
          ops += OpRec(q, pass, (t1 - t0) / 1e6, rows.length, digest(rows), None, layers)
          lastRows(q) = (df.schema, rows)
        }
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          System.err.println(s"[perfbench] $q failed: $msg")
          if (record) ops += OpRec(q, pass, (System.nanoTime() - t0) / 1e6, 0, 0, Some(msg), Map.empty)
      }
    }
  }

  private def pass(list: Seq[String], passNo: Int, record: Boolean): Double = {
    val t0 = System.nanoTime()
    rng.shuffle(list).foreach(q => runOp(q, passNo, record))
    (System.nanoTime() - t0) / 1e9
  }

  private def artifactRoots(): Seq[Path] = {
    val base = Paths.get(GraftSession.defaultStateDir)
    if (!Files.exists(base)) Seq.empty
    else {
      val st = Files.walk(base)
      try st.iterator().asScala.filter(p => p.getFileName.toString == "LATEST").map(_.getParent).toVector
      finally st.close()
    }
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  private def runQueries(): Unit = {
    val list = cfg.get("queries").elements().asScala.map(_.asText).toSeq
    // set-up: session, then one cold pass, which also builds every durable
    // artifact the list needs, then warm-up passes until the JIT settles
    val coldMs = mutable.LinkedHashMap.empty[String, Double]
    setUp {
      list.foreach { q =>
        val before = if (tracer.enabled) artifactRoots().size else 0
        val t0 = System.nanoTime()
        runOp(q, 0, record = false)
        if (tracer.enabled && artifactRoots().size > before)
          coldMs(q) = (System.nanoTime() - t0) / 1e6
      }
      for (_ <- 1 to cfg.get("warm_passes").asInt) pass(list, 0, record = false)
    }
    val t0 = System.nanoTime()
    var p = 0
    val minPasses = cfg.get("min_passes").asInt
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      p += 1
      passes += pass(list, p, record = true)
    }
    extra("timed_s") = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) {
      // build time = the cold pass's excess over the op's warm median, for
      // ops whose cold run published an artifact
      val warmMed = ops.groupBy(_.q).map { case (q, os) =>
        q -> Stats.median(os.map(_.ms).toSeq) }
      val roots = artifactRoots()
      extra("artifacts") = Map(
        "build_s" -> coldMs.map { case (q, ms) => math.max(0.0, ms - warmMed.getOrElse(q, 0.0)) }.sum / 1e3,
        "count" -> roots.size,
        "bytes" -> roots.map(treeBytes).sum,
        "built_by" -> coldMs.keys.toSeq)
      jobs.drain()
      def stats(o: OpRec, k: String): JobStats =
        o.layers.get(k).flatMap(sp => Option(jobs.bySpan.get(sp.toInt))).getOrElse(new JobStats)
      val withJobs = ops.map { o =>
        if (o.layers.isEmpty) o
        else {
          val e = stats(o, "exec_span")
          o.copy(layers = o.layers -- Seq("construct_span", "exec_span") ++ Map(
            "construct_jobs" -> stats(o, "construct_span").jobs.toDouble,
            "exec_jobs" -> e.jobs.toDouble, "exec_stages" -> e.stages.toDouble,
            "exec_tasks" -> e.tasks.toDouble, "exec_task_ms" -> e.taskMs.toDouble,
            "shuffle_read_bytes" -> e.shuffleRead.toDouble,
            "shuffle_write_bytes" -> e.shuffleWrite.toDouble,
            "spill_bytes" -> e.spill.toDouble))
        }
      }
      ops.clear(); ops ++= withJobs
    }
    writeOutputs()
  }

  /** The rows of each query's last timed execution, for the DuckDB check,
    * plus the oracle SQL SparkEntry declares for them. */
  private def writeOutputs(): Unit = {
    val out = runDir.resolve("out")
    lastRows.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(q).toString)
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => lastRows.contains(k) }
    Main.writeJson(runDir.resolve("oracle_sql.json"), oracles)
  }

  // --------------------------------------------------------------- stream

  /** query batch id -> names of the files it read. The file source keeps
    * its own batch numbering (plain and compacted log entries); the
    * query's offset log maps each query batch to the source batch it read
    * up to. */
  private def filesByBatch(ckpt: Path): Map[Long, Seq[String]] = {
    val mapper = new ObjectMapper()
    def logFiles(dir: Path): Vector[Path] = Files.list(dir).iterator().asScala.toVector
      .filter(_.getFileName.toString.matches("""\d+(\.compact)?"""))
    val bySourceBatch = logFiles(ckpt.resolve("sources/0"))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).map(mapper.readTree))
      .groupBy(_.get("batchId").asLong)
      .map { case (b, es) => b -> es.map(e =>
        Paths.get(new java.net.URI(e.get("path").asText)).getFileName.toString).distinct }
    val sourceOffset = logFiles(ckpt.resolve("offsets")).map { f =>
      f.getFileName.toString.toLong ->
        mapper.readTree(Files.readAllLines(f).get(2)).get("logOffset").asLong
    }.sortBy(_._1)
    sourceOffset.zip((0L, -1L) +: sourceOffset).map { case ((b, off), (_, prev)) =>
      b -> (prev + 1 to off).flatMap(bySourceBatch.getOrElse(_, Seq.empty))
    }.toMap
  }

  private def runStream(): Unit = {
    val filesDir = Paths.get(inputDir, "files")
    val all = Files.list(filesDir).iterator().asScala.map(_.getFileName.toString).toVector.sorted
    val nWarm = cfg.get("warm_files").asInt
    val nPaced = cfg.get("paced_files").asInt
    val nBacklog = cfg.get("backlog_files").asInt
    val rate = cfg.get("rate_per_s").asDouble
    val maxFiles = cfg.get("max_files_per_trigger").asInt
    require(all.size >= nWarm + nPaced + nBacklog, s"only ${all.size} stream files")
    var inDir: Path = null
    var stage: Path = null
    var target: Path = null

    /** Land one file; its mtime is when the producer wrote it, which also
      * orders it for the file source. */
    def land(name: String, writtenMs: Long): Unit = {
      Files.setLastModifiedTime(stage.resolve(name), FileTime.fromMillis(writtenMs))
      Files.move(stage.resolve(name), inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    setUp {
      val base = runDir.resolve("stream")
      inDir = base.resolve("in"); stage = base.resolve("stage"); target = base.resolve("target")
      Files.createDirectories(inDir); Files.createDirectories(stage)
      all.take(nWarm + nPaced + nBacklog).foreach(n => Files.copy(filesDir.resolve(n), stage.resolve(n)))
      val schema = spark.read.parquet(filesDir.resolve(all.head).toString).schema
      val dim = spark.read.parquet(Paths.get(inputDir, "dim.parquet").toString)
      val events = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFiles.toLong).parquet(inDir.toString)
      query = SyncStream.streamingSyncPipeline(events, dim, target.toString,
        base.resolve("checkpoint").toString)
      // warm-up: one second's worth of files per micro-batch, until the
      // JIT settles
      all.take(nWarm).grouped(math.max(1, math.round(rate).toInt)).foreach { group =>
        val t = System.currentTimeMillis() - group.size
        group.zipWithIndex.foreach { case (n, i) => land(n, t + i) }
        query.processAllAvailable()
      }
    }
    val lastWarmBatch = query.lastProgress.batchId

    val files = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    def record(name: String, phase: String, dueMs: Long, landedMs: Long): Unit =
      files += mutable.LinkedHashMap("name" -> name, "phase" -> phase, "due_ms" -> dueMs,
        "landed_ms" -> landedMs, "bytes" -> Files.size(inDir.resolve(name)))

    // open loop: one generator thread lands files on a fixed schedule
    val paced = all.slice(nWarm, nWarm + nPaced)
    val start = System.currentTimeMillis() + 200
    val gen = new Thread(() => paced.zipWithIndex.foreach { case (n, i) =>
      val due = start + math.round(i * 1000.0 / rate)
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(n, System.currentTimeMillis())
      record(n, "paced", due, System.currentTimeMillis())
    }, "perfbench-generator")
    gen.start(); gen.join()
    query.processAllAvailable()
    // backlog: files the producer wrote while the loop was stalled, landed
    // at once
    val backlog = all.slice(nWarm + nPaced, nWarm + nPaced + nBacklog)
    val due = System.currentTimeMillis()
    backlog.zipWithIndex.foreach { case (n, i) =>
      land(n, due - backlog.size + i); record(n, "backlog", due, System.currentTimeMillis()) }
    query.processAllAvailable()
    val ckpt = runDir.resolve("stream/checkpoint")
    val lastBatch = query.lastProgress.batchId
    val runId = query.runId.toString
    query.stop(); query = null
    // the listener bus is asynchronous: wait for every batch's progress
    val deadline = System.currentTimeMillis() + 10000
    def ours = progress.batches.asScala.toSeq.filter(_.runId == runId)
    def seen = ours.map(_.batchId).toSet
    while (System.currentTimeMillis() < deadline &&
      !(lastWarmBatch + 1 to lastBatch).forall(seen.contains)) Thread.sleep(50)
    if (tracer.enabled) jobs.drain()

    val batches = ours.filter(b => b.batchId > lastWarmBatch && b.inputRows > 0)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
    val filesOf = filesByBatch(ckpt)
    val batchFiles = batches.map { b =>
      val names = filesOf.getOrElse(b.batchId, Seq.empty)
      mutable.LinkedHashMap[String, Any]("batch_id" -> b.batchId, "start_ms" -> b.startMs,
        "commit_ms" -> b.commitMs, "trigger_ms" -> b.triggerMs, "add_batch_ms" -> b.addBatchMs,
        "input_rows" -> b.inputRows, "state_rows" -> b.stateRows, "files" -> names)
    }
    extra("files") = files
    extra("batches") = batchFiles
    extra("input_dir") = inDir.toString
    extra("target_dir") = target.toString
    extra("target_files") = {
      val st = Files.walk(target)
      try st.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }
    extra("input_bytes") = treeBytes(inDir)
    if (tracer.enabled) {
      extra("bytes_written") = jobs.bySpan.asScala.values.map(_.bytesWritten).sum
      batches.foreach { b =>
        val s0 = tracer.nanosOfEpochMs(b.startMs)
        val s1 = tracer.nanosOfEpochMs(b.commitMs)
        val id = tracer.add("stream.batch", s0, s1, 0, b.batchId.toInt)
        tracer.add("stream.sink", s1 - b.addBatchMs * 1000000L, s1, id, b.batchId.toInt)
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
