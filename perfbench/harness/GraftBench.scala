package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.catalog.{FileIndexer, IndexRequests}
import graft.sources.CatalogIO
import graft.streaming.{CompactionLoop, IncrementalIndexer}

/** The JVM half of the graft benchmark.
  *
  * `perfbench/run.py` generates a workload's inputs from its seed, writes
  * a job file describing them and starts this main with
  * `<job.json> <result.json>`. The harness sets up a session, runs the
  * workload for the job's time budget, and writes every timed operation,
  * the outputs the Python side checks for correctness, and (in a traced
  * run) the per-layer figures to the result file.
  *
  * Layers are observed only from outside: spans wrap the harness's own
  * calls into the program's public functions, a SparkListener counts
  * jobs, stages and tasks, and a QueryExecutionListener reads the
  * Catalyst phase times. A traced run alternates traced and untraced
  * passes, so the difference between the two is the tracing overhead.
  */
object GraftBench {

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val job = json.readTree(new java.io.File(args(0)))
    val out = json.createObjectNode()
    val bench = new Bench(job, out)
    try bench.run()
    catch {
      case e: Throwable =>
        bench.fail("harness", e)
        e.printStackTrace()
    } finally {
      bench.finish()
      json.writerWithDefaultPrettyPrinter()
        .writeValue(new java.io.File(args(1)), out)
    }
    // the streaming engine and the shutdown hooks must not keep the JVM
    // alive past the result
    sys.exit(0)
  }
}

/** One recorded span: a timed call into a layer. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(0L)
  private var nextId = 0L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq
}

/** Spark engine counters over the traced passes only. A job belongs to
  * a traced pass when it was submitted inside one of the traced time
  * windows; its stages and tasks follow the job.
  */
final class Engine extends SparkListener with QueryExecutionListener {
  @volatile private var windows = Vector.empty[(Long, Long)]
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
  val jobs, stages, singleTaskStages, tasks = new AtomicLong
  val runMs, shuffleWrite, spill = new AtomicLong
  val analyzeMs, optimizeMs, planMs, actions = new AtomicLong
  private val lastEvent = new AtomicLong(System.nanoTime())

  def open(): Unit = windows :+= (System.currentTimeMillis() -> Long.MaxValue)
  def close(): Unit =
    windows = windows.init :+ (windows.last._1 -> System.currentTimeMillis())

  private def traced(t: Long): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    if (traced(e.time)) {
      jobs.incrementAndGet()
      e.stageIds.foreach(s => tracedStages.add(s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent.set(System.nanoTime())
    if (tracedStages.contains(e.stageInfo.stageId)) {
      stages.incrementAndGet()
      if (e.stageInfo.numTasks == 1) singleTaskStages.incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    val m = e.taskMetrics
    if (tracedStages.contains(e.stageId) && m != null) {
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    lastEvent.set(System.nanoTime())
    val ph = qe.tracker.phases
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
    if (start.exists(traced)) {
      actions.incrementAndGet()
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      analyzeMs.addAndGet(d("analysis"))
      optimizeMs.addAndGet(d("optimization"))
      planMs.addAndGet(d("planning"))
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  /** Listener delivery is asynchronous: wait until the bus goes quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (System.nanoTime() - lastEvent.get() < 500_000_000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** Scan statistics of an executed plan (AQE stages included). */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}

final class Bench(job: JsonNode, out: ObjectNode) {
  private val workload = job.get("workload").asText
  private val traceMode = job.get("trace").asBoolean
  private val seed = job.get("seed").asLong
  private val budgetNs = (job.get("seconds").asDouble * 1e9).toLong
  private val cores = job.get("cores").asInt
  private val runDir = job.get("run_dir").asText
  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

  private val json = new ObjectMapper()
  val tracer = new Tracer
  private val engine = new Engine
  private var spark: SparkSession = _
  private val ops = out.putArray("ops")
  private val failures = out.putArray("failures")
  private val samples = out.putObject("samples")
  private var pass = 0
  private var passTraced = false

  private def arr(name: String): ArrayNode =
    Option(out.get(name)).map(_.asInstanceOf[ArrayNode])
      .getOrElse(out.putArray(name))

  /** One per-layer observation; run.py aggregates them. */
  private def sample(key: String, v: Double): Unit =
    Option(samples.get(key)).map(_.asInstanceOf[ArrayNode])
      .getOrElse(samples.putArray(key)).add(v)

  /** Checks inside a pass: spans off and the engine window closed while
    * they run, so they count in no layer. */
  private def untimed[T](body: => T): T = {
    val was = passTraced
    if (was) { engine.close(); tracer.on = false }
    try body
    finally if (was) { engine.open(); tracer.on = true }
  }

  def fail(what: String, e: Throwable): Unit =
    failures.addObject().put("op", what)
      .put("error", String.valueOf(e.getMessage).take(300))

  /** Time one operation; a throw is recorded as a failure, not a time. */
  def op[T](kind: String, name: String = "")(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(kind)(body)
      record(kind, name, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Throwable =>
        fail(if (name.isEmpty) kind else s"$kind:$name", e)
        None
    }
  }

  private def record(kind: String, name: String, ms: Double): Unit =
    ops.addObject().put("kind", kind).put("name", name).put("ms", ms)
      .put("pass", pass).put("traced", passTraced)

  /** Seconds since the JVM started, per phase of the run. */
  private def phase(name: String): Unit = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Option(out.get("phases")).getOrElse(out.putObject("phases"))
      .asInstanceOf[ObjectNode].put(name, (System.currentTimeMillis() - start) / 1e3)
  }

  /** Run passes until the budget is spent and at least `min_passes` ran;
    * a traced run alternates untraced and traced passes, untraced first. */
  private def passes(body: Int => Unit): Unit = {
    phase("prepared")
    val t0 = System.nanoTime()
    // a traced run adds a traced pass and an untraced one after it; the
    // overhead compares the two, away from the run's first pass
    val need = job.get("min_passes").asInt + (if (traceMode) 2 else 0)
    var i = 0
    while (i < need || System.nanoTime() - t0 < budgetNs) {
      pass = i
      passTraced = traceMode && i % 2 == 1
      tracer.on = passTraced
      if (passTraced) engine.open()
      val p0 = System.nanoTime()
      body(i)
      arr("passes").addObject()
        .put("pass", i).put("traced", passTraced)
        .put("wall_s", (System.nanoTime() - p0) / 1e9)
      if (passTraced) engine.close()
      tracer.on = false
      passTraced = false
      i += 1
    }
    phase("measured")
  }

  // ------------------------------------------------------------ set-up

  /** Session set-up, repeated: create the session and run one small
    * job, so the session is ready for work. The median is reported. */
  private def setup(): Unit = {
    val times = out.putArray("setup_s")
    for (i <- 0 until job.get("setups").asInt) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession(cores, s"graftbench-$workload")
      spark.range(1000).selectExpr("sum(id)").collect()
      times.add((System.nanoTime() - t0) / 1e9)
    }
    if (traceMode) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(engine)
    }
    phase("set_up")
  }

  def run(): Unit = workload match {
    case "catalog_pipeline" => catalogPipeline()
    case "analytics_steady" => steady()
  }

  def finish(): Unit = {
    if (traceMode) {
      if (spark != null) engine.drain()
      val e = engine
      Seq("jobs" -> e.jobs, "stages" -> e.stages,
        "single_task_stages" -> e.singleTaskStages, "tasks" -> e.tasks,
        "task_run_ms" -> e.runMs, "shuffle_write_bytes" -> e.shuffleWrite,
        "spill_bytes" -> e.spill, "catalyst_actions" -> e.actions,
        "analyze_ms" -> e.analyzeMs, "optimize_ms" -> e.optimizeMs,
        "plan_ms" -> e.planMs).foreach { case (k, v) =>
        sample(s"engine.$k", v.get.toDouble)
      }
      val w = Files.newBufferedWriter(Paths.get(job.get("trace_file").asText))
      try tracer.spans.foreach { s =>
        w.write(s"""{"run":"${job.get("run_id").asText}","id":${s.id},""" +
          s""""parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n")
      } finally w.close()
      val totals = out.putObject("span_totals_ms")
      tracer.spans.groupBy(_.name).foreach { case (n, ss) =>
        totals.put(n, ss.map(_.ms).sum)
      }
    }
    // peak resident set of this JVM, from the kernel's high-water mark
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .foreach(l => out.put("peak_rss_kb", l.replaceAll("[^0-9]", "").toLong))
    phase("finished")
    if (spark != null) spark.stop()
  }

  // -------------------------------------------------- analytics shared

  private lazy val registry = SparkEntry.queries

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** graft_lc_* cache trees present under the run's private tmpdir. */
  private def cacheTrees(): Set[Path] =
    Files.list(tmpDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_lc_")).toSet

  private def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }

  /** One timed query: clear the CacheManager, build the plan
    * (operators.build), consume every row through the noop sink
    * (operators.exec). New cache trees are counted: on the first-touch
    * pass they are the cold cost; on a steady pass there should be none.
    */
  private def timedQuery(name: String, dir: String, kind: String): Unit = {
    spark.catalog.clearCache()
    val before = cacheTrees()
    op(kind, name) {
      val df = tracer.span("operators.build")(registry(name)(spark, dir))
      tracer.span("operators.exec")(noop(df))
    }
    val made = cacheTrees().diff(before)
    if (kind == "first_touch") {
      sample("cache.cold_trees", made.size)
      sample("cache.cold_bytes", made.toSeq.map(treeBytes).sum.toDouble)
    } else if (passTraced) sample("cache.trees_built", made.size)
  }

  /** The oracle SQL of the listed queries, next to their outputs. */
  private def dumpOracles(names: Seq[String]): Unit = {
    val o = json.createObjectNode()
    val sql = SparkEntry.oracleSql
    names.filter(sql.contains).foreach(n => o.put(n, sql(n)))
    json.writeValue(new java.io.File(
      s"${job.get("output_dir").asText}/oracle_sql.json"), o)
  }

  /** The full output of every listed query, where the DuckDB oracle
    * check reads it: one untimed pass after the steady passes, with every
    * cache warm, over the same plans the timed passes ran. */
  private def outputs(names: Seq[String], dir: String): Unit = {
    names.foreach { name =>
      spark.catalog.clearCache()
      // one file keeps the plan's row order, as graft.Verify writes it
      try registry(name)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"${job.get("output_dir").asText}/$name")
      catch { case e: Throwable => fail(s"output:$name", e) }
    }
    dumpOracles(names)
  }

  private def strings(key: String): Seq[String] =
    job.get(key).elements().asScala.map(_.asText).toSeq

  private def permuted(names: Seq[String], p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p).shuffle(names)

  // ------------------------------------------------- analytics_steady

  private def steady(): Unit = {
    val data = job.get("data_dir").asText
    setup()
    val names = strings("queries")
    // first touch: one pass over cold caches and a cold JIT, recorded
    // apart (pass -1) from the steady passes; every pass runs in the
    // Bench protocol (clearCache, noop sink)
    pass = -1
    names.foreach(timedQuery(_, data, "first_touch"))
    passes { p =>
      permuted(names, p).foreach(timedQuery(_, data, "query"))
    }
    outputs(names, data)
  }

  // -------------------------------------------------- catalog_pipeline

  private val changeSchema = StructType.fromDDL(
    "doc_id BIGINT, path STRING, n_chars BIGINT, processing_level STRING, " +
      "generated_by STRING, op STRING, seq BIGINT")

  private def parquetFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }.toList finally w.close()
    }
  }

  private def footerRows(files: Seq[Path]): Long = files.map { p =>
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toString),
        spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }.sum

  private def catalogPipeline(): Unit = {
    val cycles = job.get("cycles")
    setup()
    val reads = job.get("reads_per_batch").asInt
    val threshold = job.get("compact_threshold").asLong
    passes { p =>
      val plan = cycles.get(p % cycles.size)
      val check = arr("checks").addObject()
      check.put("pass", p).put("cycle", p % cycles.size)
      catalogCycle(plan, s"$runDir/catalog_$p", reads, threshold, check)
    }
  }

  private def catalogCycle(plan: JsonNode, dir: String, reads: Int,
      threshold: Long, check: ObjectNode): Unit = {
    val table = s"$dir/table"
    // 1. validate the request messages
    val validated = op("requests.validate") {
      val msgs = IndexRequests.read(spark, plan.get("requests").asText)
      (IndexRequests.accepted(msgs).collect(),
        IndexRequests.deadLetter(msgs).count())
    }
    val accepted = validated.map(_._1).getOrElse(Array.empty[Row])
    check.put("accepted", accepted.length)
    check.put("dead_letters", validated.map(_._2).getOrElse(-1L))
    if (passTraced) {
      sample("requests.validate_ms", tracer.durations("requests.validate").last)
      sample("requests.rejected", validated.map(_._2).getOrElse(0L).toDouble)
    }

    // 2. index every accepted index request's archive manifest into the
    // partitioned catalog (indexing is lazy: its cost lands in the sink)
    val manifests = plan.get("jobs").elements().asScala
      .map(j => j.get("uuid").asText -> j.get("manifest").asText).toMap
    val requests = accepted.filter(_.getAs[String]("name") == "index")
    val offered = plan.get("offered").asLong
    op("ingest") {
      val indexed = requests.toSeq.map { r =>
        val uuid = r.getAs[String]("uuid")
        val files = spark.read.schema(IncrementalIndexer.manifestSchema)
          .json(manifests(uuid))
        tracer.span("indexer.index")(FileIndexer.index(files, "path",
          IndexRequests.filtersOf(r), uuid, r.getAs[String]("level")))
      }.reduce(_ unionByName _)
      tracer.span("sink.write")(CatalogIO.writeCatalog(indexed, s"$table/base"))
    }.foreach(_ => ops.get(ops.size - 1).asInstanceOf[ObjectNode]
      .put("records", offered))
    check.put("indexed", footerRows(parquetFiles(s"$table/base")))
    if (passTraced) {
      sample("sink.write_s", tracer.durations("sink.write").last / 1e3)
      sample("sink.files_written", parquetFiles(s"$table/base").size)
      sample("indexer.offered", offered.toDouble)
      sample("indexer.kept", check.get("indexed").asDouble)
    }

    // 3. stream the CDC change batches through the compaction loop, with
    // discovery reads against the merge-on-read view after each batch
    val readLog = check.putArray("reads")
    val levels = Seq("1", "2", "3", "4")
    val exts = Seq("fastq", "bam", "json")
    val jobs = manifests.keys.toSeq.sorted
    plan.get("batches").elements().asScala.zipWithIndex.foreach { case (b, i) =>
      val batch = spark.read.schema(changeSchema).json(b.asText)
      val baseBefore = if (passTraced) parquetFiles(s"$table/base").toSet else Set.empty[Path]
      val wmBefore = CompactionLoop.watermark(spark, table)
      val t0 = System.nanoTime()
      val compacted = try {
        Some(tracer.span("loop.onBatch")(
          CompactionLoop.onBatch(spark, table, batch, threshold)))
      } catch { case e: Throwable => fail(s"change:$i", e); None }
      val ms = (System.nanoTime() - t0) / 1e6
      compacted.foreach { c =>
        record(if (c) "compact" else "change", s"batch$i", ms)
        if (passTraced && c) {
          val after = parquetFiles(s"$table/base").toSet
          val changed = (after -- baseBefore) ++ (baseBefore -- after)
          sample("compact.touched_partitions",
            changed.map(_.getParent.getFileName.toString).size)
          sample("compact.rows_rewritten", footerRows((after -- baseBefore).toSeq).toDouble)
          // the pending slice the loop folded, counted as the loop counts
          // it: distinct log rows above the watermark it started from
          val wmAfter = CompactionLoop.watermark(spark, table)
          sample("compact.changes_folded", untimed(
            spark.read.parquet(s"$table/log")
              .where(col("seq") > wmBefore && col("seq") <= wmAfter)
              .distinct().count()).toDouble)
          sample("compact.files_after", after.size)
        }
        if (passTraced && !c) sample("log.append_ms", ms)
      }
      if (passTraced) sample("view.pending_rows", untimed(
        Option(CompactionLoop.pendingLog(spark, table))
          .map(_.distinct().count()).getOrElse(0L)).toDouble)
      for (k <- 0 until reads) {
        val (what, key) = (i * reads + k) % 4 match {
          case 0 => ("job", jobs((i + k) % jobs.size))
          case 1 => ("level", levels((i + k) % levels.size))
          case 2 => ("pattern", exts((i + k) % exts.size))
          case _ => ("counts", "")
        }
        discovery(table, what, key).foreach { digest =>
          readLog.addObject().put("batch", i).put("what", what)
            .put("key", key).set[ObjectNode]("digest", digest)
        }
      }
    }
    val finalRows = check.putArray("final_rows")
    try untimed(CompactionLoop.view(spark, table).collect())
      .sortBy(_.getAs[Long]("doc_id"))
      .foreach { r =>
        finalRows.addArray().add(r.getAs[Long]("doc_id")).add(r.getAs[String]("path"))
          .add(r.getAs[Long]("n_chars")).add(r.get(r.fieldIndex("processing_level")).toString)
          .add(r.getAs[String]("generated_by"))
      }
    catch { case e: Throwable => fail("final_view", e) }
    val bytes = (parquetFiles(s"$table/base") ++ parquetFiles(s"$table/log"))
      .map(Files.size).sum
    check.put("catalog_bytes", bytes)

    // 4. drain staged manifests through the streaming indexer, twice per
    // job (a second drain resumes from the checkpoint), then fold the
    // handshake events into job states
    val events = s"$dir/events"
    val rejects = s"$dir/rejects"
    plan.get("stream").elements().asScala.zipWithIndex.foreach { case (s, j) =>
      val uuid = s.get("uuid").asText
      val in = Paths.get(s"$dir/stream_in_$j")
      Files.createDirectories(in)
      val filters = s.get("filters").elements().asScala.map { f =>
        FileIndexer.IndexFilter(f.get("level").asText,
          f.get("patterns").elements().asScala.map(_.asText).toSeq)
      }.toSeq
      val files = s.get("files").elements().asScala.map(_.asText).toSeq
      Seq(files.take(1), files.drop(1)).zipWithIndex.foreach { case (stage, d) =>
        stage.foreach { f =>
          Files.copy(Paths.get(f), in.resolve(Paths.get(f).getFileName))
        }
        val rows = stage.map(f => Files.readAllLines(Paths.get(f)).size).sum
        op("stream", s"$j/$d") {
          val q = tracer.span("stream.drain")(IncrementalIndexer.startWithProtocol(
            spark, in.toString, s"$dir/stream_out_$j", rejects, events,
            s"$dir/stream_ckpt_$j", filters, uuid))
          q.awaitTermination()
          q.recentProgress
        }.foreach { progress =>
          if (passTraced) progress.filter(_.numInputRows > 0).foreach { pr =>
            sample("stream.trigger_ms",
              pr.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
            sample("stream.add_batch_ms",
              pr.durationMs.getOrDefault("addBatch", 0L).toDouble)
          }
          ops.get(ops.size - 1).asInstanceOf[ObjectNode].put("records", rows)
        }
      }
    }
    // at-least-once delivery: one handshake event file arrives twice
    val eventFiles = Files.list(Paths.get(events)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.toString)
    eventFiles.headOption.foreach { f =>
      Files.copy(f, f.resolveSibling("redelivered-" + f.getFileName))
    }
    op("jobstates.fold") {
      IncrementalIndexer.jobStates(spark.read.json(events)).collect()
    }.foreach { rows =>
      val js = check.putArray("job_states")
      rows.sortBy(_.getAs[String]("uuid")).foreach { r =>
        js.addArray().add(r.getAs[String]("uuid")).add(r.getAs[String]("job_state"))
          .add(r.getAs[Long]("n_files"))
      }
    }
    check.put("stream_rejects",
      try untimed(spark.read.json(rejects).count())
      catch { case _: Throwable => -1L })
  }

  /** One discovery read through the merge-on-read view, returned to the
    * client; the digest (rows, sum doc_id, sum n_chars) is checked
    * against the expected-state model. */
  private def discovery(table: String, what: String, key: String): Option[ObjectNode] = {
    val digest = json.createObjectNode()
    op("discovery", what) {
      val v = CompactionLoop.view(spark, table)
      val df = what match {
        case "job" => v.where(col("generated_by") === key)
        case "level" => v.where(col("processing_level") === key)
        case "pattern" => v.where(col("path").endsWith("." + key))
        case _ => v.groupBy(col("processing_level").cast("string")
          .as("processing_level")).count()
      }
      if (passTraced) {
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        sample("discovery.plan_ms", (System.nanoTime() - t0) / 1e6)
        val t1 = System.nanoTime()
        val rows = df.collect()
        sample("discovery.exec_ms", (System.nanoTime() - t1) / 1e6)
        sample("discovery.files_read", Scans.filesRead(df).toDouble)
        sample("discovery.files_total",
          (parquetFiles(s"$table/base").size + parquetFiles(s"$table/log").size).toDouble)
        rows
      } else df.collect()
    }.map { rows =>
      if (what == "counts")
        rows.foreach(r => digest.put(r.getString(0), r.getLong(1)))
      else digest.putArray("v").add(rows.length.toLong)
        .add(rows.map(_.getAs[Long]("doc_id")).sum)
        .add(rows.map(_.getAs[Long]("n_chars")).sum)
      digest
    }
  }
}
