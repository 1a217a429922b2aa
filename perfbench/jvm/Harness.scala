package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one fresh JVM: a single closed-loop client that
  * runs registered `graft.SparkEntry.queries` one at a time.
  *
  * Setup is `graft.Sessions.build`, the listed staging calls, and a first
  * pass whose action is an order-insensitive digest of each result. Then
  * come an untimed warm-up pass, and timed passes until `seconds` have
  * elapsed and at least three have run. Their action is a noop write, and
  * the between-query isolation is the same as `graft.Bench`'s. Query order
  * inside every pass is a permutation drawn from `seed`.
  *
  * With trace on, spans (run > setup > stage/first_pass, warmup | pass >
  * query > build | action > job | batch > job) and per-pass counters are kept in
  * memory and written once, with the rest of the result, at the end.
  *
  * Usage: perfbench.Harness <sfDir> <seed> <seconds> <trace 0|1>
  *          <warehouseDir> <out.json> <stage,...> <query,...>
  */
object Harness {
  private val T0 = System.nanoTime()
  private val Epoch0 = System.currentTimeMillis() / 1e3
  private def now(): Double = (System.nanoTime() - T0) / 1e9
  private val QueryTimeoutSec = 60L
  private val StageTimeoutSec = 120L
  /** Untimed passes after set-up. The first pass after set-up still runs
    * 10-25 % slow while the JIT settles. */
  private val WarmupPasses = 1
  /** Timed passes a run makes at least, so that its medians are over three. */
  private val MinPasses = 3

  final case class Span(id: Int, var parent: Int, name: String, start: Double, var end: Double)

  /** Spans and named counters of a traced run; inert when `on` is false. */
  object Rec {
    @volatile var on = false
    private val spans = mutable.ArrayBuffer.empty[Span]
    private val jobSpans = mutable.Map.empty[Int, Span]
    /** Jobs started under a job group the harness did not set: a streaming
      * query sets its run id as the group of its micro-batch jobs. */
    private val foreignJobs = mutable.ArrayBuffer.empty[(Span, String)]
    private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val stageRuns = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    private val stateByRun = mutable.Map.empty[java.util.UUID, (Long, Long)]
    private var skewMax = 0.0

    def open(name: String, parent: Int): Int = synchronized {
      if (!on) -1
      else { val s = Span(spans.size, parent, name, now(), Double.NaN); spans += s; s.id }
    }
    def close(id: Int): Unit = synchronized { if (id >= 0) spans(id).end = now() }
    def add(key: String, v: Double): Unit = synchronized { counters(key) += v }

    def jobStart(jobId: Int, t: Double, group: String): Unit = synchronized {
      val parent = Option(group).filter(_.startsWith("pb-"))
        .flatMap(g => g.stripPrefix("pb-").toIntOption).getOrElse(-1)
      val s = Span(spans.size, parent, "job", t, Double.NaN)
      spans += s
      jobSpans(jobId) = s
      if (parent < 0 && group != null) foreignJobs += ((s, group))
      counters("spark.jobs") += 1
      if (parent >= 0 && spans(parent).name == "build") counters("operators.build_jobs") += 1
    }
    def jobEnd(jobId: Int, t: Double): Unit = synchronized {
      jobSpans.remove(jobId).foreach(_.end = t)
    }
    def taskRun(stageId: Int, runMs: Long): Unit = synchronized {
      stageRuns.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty) += runMs
    }
    /** Skew of a finished stage: slowest task over the median task. Stages
      * with one task, or a median under 10 ms, have no meaningful skew. */
    def stageDone(stageId: Int): Unit = synchronized {
      stageRuns.remove(stageId).foreach { runs =>
        if (runs.size >= 2) {
          val sorted = runs.sorted
          val median = sorted(sorted.size / 2)
          if (median >= 10) skewMax = math.max(skewMax, sorted.last.toDouble / median)
        }
      }
    }
    def batch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val trigger = d.getOrElse("triggerExecution", 0.0)
      counters("streaming.batches") += 1
      counters("streaming.batch_s") += trigger
      Seq("addBatch", "walCommit", "queryPlanning", "latestOffset").foreach { k =>
        counters(s"streaming.${k}_s") += d.getOrElse(k, 0.0)
      }
      counters("streaming.state_commit_s") += p.stateOperators.map(_.commitTimeMs).sum / 1e3
      stateByRun(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3 - Epoch0
      val parent = spans.lastIndexWhere(s => (s.name == "build" || s.name == "action") && s.start <= start)
      val b = Span(spans.size, parent, "batch", start, start + trigger)
      spans += b
      val run = p.runId.toString
      foreignJobs.filter { case (j, g) => g == run && j.start >= b.start - 0.01 && j.start <= b.end }
        .foreach { case (j, _) => j.parent = b.id }
      foreignJobs.filterInPlace { case (j, _) => j.parent < 0 }
    }

    /** Counters of one pass: reset at its start, read at its end. The
      * state figures are what each streaming query held after its last
      * batch of the pass. */
    def reset(): Unit = synchronized {
      counters.clear(); stateByRun.clear(); skewMax = 0.0
    }
    def snapshot(): Map[String, Double] = synchronized {
      counters.toMap ++ Map(
        "task.skew" -> skewMax,
        "streaming.state_rows" -> stateByRun.values.map(_._1).sum.toDouble,
        "streaming.state_mb" -> stateByRun.values.map(_._2).sum / 1048576.0)
    }
    def allSpans: Seq[Span] = synchronized(spans.toList)
  }

  /** Spark-side counters of a traced run: jobs, stages, tasks, shuffle,
    * I/O, and streaming progress events posted on the same bus. */
  final class SparkProbe extends SparkListener {
    private def t(ms: Long) = ms / 1e3 - Epoch0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Rec.jobStart(e.jobId, t(e.time),
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Rec.jobEnd(e.jobId, t(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Rec.add("spark.stages", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Rec.stageDone(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Rec.add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        Rec.taskRun(e.stageId, m.executorRunTime)
        Rec.add("task.run_s", m.executorRunTime / 1e3)
        Rec.add("task.cpu_s", m.executorCpuTime / 1e9)
        Rec.add("task.gc_s", m.jvmGCTime / 1e3)
        Rec.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        Rec.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        Rec.add("shuffle.spill_mb", m.diskBytesSpilled / 1048576.0)
        Rec.add("io.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        Rec.add("io.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => Rec.batch(p.progress)
      case _ =>
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def codeCacheMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  private def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Row count and the sum of `xxhash64` over every column: equal for any
    * row order. Floating values are rounded to 6 places first, because
    * parallel aggregation may sum them in another order. */
  private def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(byPos.schema.fields.toSeq.map(f => stable(col(f.name), f.dataType)): _*)
    val row = byPos.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (row.getLong(0), Option(row.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => true
    case _ => false
  }

  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => stable(x, e))
    case StructType(fs) if hasFloat(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => stable(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      stable(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** The between-query isolation of `graft.Bench.clearState`: release
    * cached and persisted data, unload streaming state stores, delete
    * finished streaming scratch, and settle GC debt. Returns the heap in
    * use after the between-query GC, in MB. */
  private def clearState(spark: SparkSession, tmp: java.nio.file.Path): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.graft.StateHygiene.unloadAllStateStores()
    val entries = Files.list(tmp)
    try entries.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-stream-"))
      .foreach { root =>
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    finally entries.close()
    System.gc()
    Thread.sleep(200)
    // A second collection, after Spark's ContextCleaner has had the pause
    // to drop the broadcasts and shuffles the first one released, so the
    // reading is what the previous query really retained.
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    def newThread(r: Runnable): Thread = { val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t }
  })

  /** Run `work` on the client thread under a watchdog. Left is "failed"
    * or "timed_out"; a timed-out unit has its jobs cancelled and gets a
    * short grace before the next unit starts. */
  private def guarded[T](spark: SparkSession, label: String, limitSec: Long)(work: => T): Either[String, T] = {
    val fut = pool.submit(() => work)
    try Right(fut.get(limitSec, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelAllJobs()
        fut.cancel(true)
        Thread.sleep(15000)
        System.err.println(s"[perfbench] $label timed out after $limitSec s")
        Left("timed_out")
      case e: java.util.concurrent.ExecutionException =>
        System.err.println(s"[perfbench] $label failed: ${e.getCause}")
        Left("failed")
    }
  }

  /** Open a span and make it the job group of the calling thread, so that
    * jobs started from it, and from threads it starts, land under it. */
  private def phase[T](spark: SparkSession, name: String, parent: Int)(body: => T): T = {
    val id = Rec.open(name, parent)
    spark.sparkContext.setJobGroup(s"pb-$id", name, interruptOnCancel = true)
    try body
    finally { spark.sparkContext.clearJobGroup(); Rec.close(id) }
  }

  private def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case Some(x) => json(x)
    case x => json(x.toString)
  }

  /** Public staging calls a workload may list, each with its layer. */
  private val Stages: Map[String, (String, (SparkSession, String) => Any)] = {
    import graft.operators._
    Map(
      "raw_fixtures" -> ("operators", (s, d) => Pipeline.ensureRawFixtures(s, d)),
      "sql_verbs" -> ("catalog", (s, d) => SqlVerbs.ensureVerbChain(s, d)))
  }

  def main(args: Array[String]): Unit =
    try { runAll(args); sys.exit(0) }
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def runAll(args: Array[String]): Unit = {
    val Array(sfDir, seedArg, secondsArg, traceArg, warehouse, outFile, stageArg, queryArg) = args
    Rec.on = traceArg == "1"
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val rng = new scala.util.Random(seedArg.toLong)
    val registry = graft.SparkEntry.queries
    val queries = queryArg.split(',').toSeq.filter(_.nonEmpty)
    val stages = stageArg.split(',').toSeq.filter(_.nonEmpty)
    (queries.filterNot(registry.contains) ++ stages.filterNot(Stages.contains))
      .foreach(n => sys.error(s"unknown query or stage $n"))

    val run = Rec.open("run", -1)
    val setup = Rec.open("setup", run)
    val gc0 = gcSeconds()
    val sb = Rec.open("Sessions.build", setup)
    val t0 = now()
    val spark = graft.Sessions.build("perfbench")
    val sessionBuildS = now() - t0
    Rec.close(sb)
    ConfinedFileSystem.relocate(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), warehouse)
    val sc = spark.sparkContext
    if (Rec.on) sc.addSparkListener(new SparkProbe)

    def status(r: Either[String, _]): String = r.fold(identity, _ => "ok")
    val staged = stages.map { name =>
      val (layer, call) = Stages(name)
      val t = now()
      val r = guarded(spark, name, StageTimeoutSec)(phase(spark, s"stage:$name", setup)(call(spark, sfDir)))
      Map("name" -> name, "layer" -> layer, "seconds" -> (now() - t), "status" -> status(r))
    }

    val fp = Rec.open("first_pass", setup)
    val first = rng.shuffle(queries).map { q =>
      clearState(spark, tmp)
      val qs = Rec.open(s"query:$q", fp)
      val t = now()
      val r = guarded(spark, q, QueryTimeoutSec) {
        val df = phase(spark, "build", qs)(registry(q)(spark, sfDir))
        phase(spark, "action", qs)(digest(df))
      }
      Rec.close(qs)
      val base = Map("query" -> q, "seconds" -> (now() - t), "status" -> status(r))
      r.fold(_ => base, { case (rows, hash) => base ++ Map("rows" -> rows, "hashsum" -> hash.toPlainString) })
    }
    Rec.close(fp)
    Rec.close(setup)
    val setupGcS = gcSeconds() - gc0
    val (setupCompiles, setupCompileS) = codegen()
    println("PB_SETUP_DONE")
    System.out.flush()

    /** One pass over `queries` in a fresh order under a span named `label`:
      * noop-write actions, isolation before every query. Returns the
      * per-query rows and, when tracing, the pass's counters. */
    def pass(label: String): Map[String, Any] = {
      val order = rng.shuffle(queries)
      if (Rec.on) { BusDrain.drain(sc); Rec.reset() }
      val (c0, ct0) = codegen()
      val ps = Rec.open(label, run)
      val rows = order.map { q =>
        val heap = clearState(spark, tmp)
        val g0 = gcSeconds()
        val qs = Rec.open(s"query:$q", ps)
        val t = now()
        val r = guarded(spark, q, QueryTimeoutSec) {
          val df = phase(spark, "build", qs)(registry(q)(spark, sfDir))
          phase(spark, "action", qs)(df.write.format("noop").mode("overwrite").save())
        }
        val wall = now() - t
        Rec.close(qs)
        Map("query" -> q, "wall_s" -> wall, "status" -> status(r),
          "heap_mb" -> heap, "gc_s" -> (gcSeconds() - g0))
      }
      Rec.close(ps)
      val counters = if (!Rec.on) Map.empty[String, Double] else {
        BusDrain.drain(sc)
        val (c1, ct1) = codegen()
        Rec.snapshot() ++ Map("codegen.compiles" -> (c1 - c0).toDouble, "codegen.compile_s" -> (ct1 - ct0))
      }
      Map("queries" -> rows, "counters" -> counters)
    }

    val warmup = (1 to WarmupPasses).map(_ => pass("warmup"))
    val deadline = now() + secondsArg.toDouble
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.size < MinPasses || now() < deadline) passes += pass(s"pass:${passes.size + 1}")
    Rec.close(run)

    val result = Map(
      "env" -> Map(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "cores" -> graft.Sessions.cpus,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq),
      "session_build_s" -> sessionBuildS,
      "stages" -> staged,
      "first_pass" -> first,
      "setup_gc_s" -> setupGcS,
      "setup_compiles" -> setupCompiles,
      "setup_compile_s" -> setupCompileS,
      "warmup" -> warmup,
      "passes" -> passes.toSeq,
      "codecache_mb" -> codeCacheMb(),
      "spans" -> Rec.allSpans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end)))
    Files.writeString(Paths.get(outFile), json(result))
    spark.stop()
  }
}

/** Catalyst planning time of every execution in every session, read from
  * its QueryPlanningTracker; registered through
  * `spark.sql.queryExecutionListeners` so sessions the program creates
  * for itself report too. */
class PlanProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    Harness.Rec.add("catalyst.executions", 1)
    Harness.Rec.add("catalyst.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  }
}
