package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.operators.{Corpus, CourseFlatten}
import graft.sources.{CourseraJson, Sinks}
import graft.streaming.CorpusIngest
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One epoch-millisecond clock for spans, read from the monotonic timer
  * so spans never run backwards; listener events carry wall-clock
  * milliseconds on the same epoch. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spark's public listeners, recording raw jobs, stages, tasks and
  * planning phases while attached. Aggregation happens in run.py. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  val jobs = ArrayBuffer[String]()
  val stages = ArrayBuffer[String]()
  val tasks = ArrayBuffer[String]()
  val planning = ArrayBuffer[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += s"[${e.jobId},$t0,${e.time}]")
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      stages += s"[${s.stageId},$t0,$t1,${s.numTasks}]"
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null)
      tasks += s"[${e.stageId},${i.launchTime},${i.finishTime},${m.executorRunTime}," +
        s"${m.executorCpuTime},${m.jvmGCTime},${m.inputMetrics.bytesRead}," +
        s"${m.shuffleWriteMetrics.bytesWritten},${m.shuffleReadMetrics.totalBytesRead}," +
        s"${m.outputMetrics.bytesWritten},${m.memoryBytesSpilled + m.diskBytesSpilled}]"
  }
  private def phases(qe: QueryExecution): Unit = synchronized {
    val ps = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values
    if (ps.nonEmpty)
      planning += s"[${ps.map(_.startTimeMs).min},${ps.map(_.durationMs).sum}]"
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Spark's public streaming listener: the phase durations of every
  * micro-batch, as its progress event reports them. */
final class ProgressRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  private val Phases = Seq("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")
  val batches = ArrayBuffer[String]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    batches += Phases.map(k => if (d.containsKey(k)) d.get(k).toString else "0")
      .mkString(s"[${p.batchId},${p.numInputRows},", ",", "]")
  }
}

/** Drives one workload through graft's public functions and writes the
  * raw samples (and, when tracing, spans and listener records) as JSON.
  *
  * Usage: Harness --workload W --in DIR --work DIR --seconds S --trace 0|1
  *                 --cpus N --out FILE */
object Harness {
  private final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Double, t1: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    new Harness(a("workload"), a("in"), a("work"), a("seconds").toDouble,
      a("trace") == "1", a("cpus").toInt).run(a("out"))
  }
}

final class Harness(workload: String, in: String, work: String, seconds: Double,
    trace: Boolean, cpus: Int) {
  import Harness.Span

  private val spans = ArrayBuffer[Span]()
  private val ops = ArrayBuffer[String]()
  private val warmup = ArrayBuffer[Double]()
  private val errors = ArrayBuffer[String]()
  private val recorder = new Recorder
  private val progress = new ProgressRecorder
  private val calls = ArrayBuffer[(String, Double)]() // (call, wall s) of the current operation
  private var tracing = false
  private var nextSpan = 0
  private var opId = -1
  private var stack = List(-1)
  private var opSpan = -2 // span id of the running operation
  private var spark: SparkSession = _

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Times `f` as a span under the innermost open span. */
  private def span[T](name: String)(f: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = Clock.nowMs
    try f
    finally {
      stack = stack.tail
      val t1 = Clock.nowMs
      if (tracing) spans += Span(id, parent, opId, name, t0, t1)
      if (parent == opSpan) calls += name -> (t1 - t0) / 1000
    }
  }

  /** Switches listener recording on or off between operations. The bus
    * is drained first so an operation's late events stay attributed. */
  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      spark.streams.addListener(progress)
    } else {
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
      spark.streams.removeListener(progress)
    }
    tracing = on
  }

  /** One timed operation; `fields` are extra JSON members it reports.
    * The walls of its public calls (spans directly under it) are kept
    * on every run, traced or not. */
  private def op(kind: String, warm: Boolean)(f: => Seq[(String, String)]): Double = {
    opId += 1
    opSpan = nextSpan
    calls.clear()
    val t0 = Clock.nowMs
    val fields =
      try span(kind)(f)
      catch {
        case NonFatal(e) =>
          errors += s"$kind op $opId: ${e.toString.take(400)}"
          Seq("error" -> "true")
      }
    val t1 = Clock.nowMs
    val wall = (t1 - t0) / 1000
    if (warm) warmup += wall
    else ops += (Seq("op" -> opId.toString, "kind" -> json(kind), "t0" -> t0.toString,
      "t1" -> t1.toString, "wall_s" -> wall.toString, "traced" -> tracing.toString,
      "calls" -> calls.map { case (n, w) => s"[${json(n)},$w]" }.mkString("[", ",", "]")) ++ fields)
      .map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")
    wall
  }

  /** Warm-up: `n` units, a fixed count so that set-up does the same
    * work on every run. Returns the seconds it took. */
  private def warmUp(n: Int)(unit: => Double): Double = {
    val t0 = Clock.nowMs
    for (_ <- 1 to n) unit
    (Clock.nowMs - t0) / 1000
  }

  /** The closed measurement loop: `unit` runs back to back until the
    * measured time is spent and at least two units ran (or `more` turns
    * false). Traced runs alternate traced and untraced units, so the
    * tracing overhead is measured in the same run. */
  private def measure(unit: () => Unit, more: () => Boolean = () => true): Double = {
    val t0 = Clock.nowMs
    var k = 0
    while (((Clock.nowMs - t0) / 1000 < seconds || k < 2) && more()) {
      setTracing(trace && k % 2 == 0)
      unit()
      k += 1
    }
    setTracing(false)
    (Clock.nowMs - t0) / 1000
  }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // Known defect: operators that use the vector/shingle SQL functions
    // fail with UNRESOLVED_ROUTINE on a fresh session unless another
    // operator registered them first, so set-up registers them.
    graft.functions.VectorOps.ensureRegistered(s)
    s
  }

  def run(out: String): Unit = {
    val t0 = Clock.nowMs
    spark = session()
    val sessionS = (Clock.nowMs - t0) / 1000
    val (warmS, measuredS, extra) = workload match {
      case "etl_snapshots" => etl()
      case "corpus_pipeline" => pipeline()
    }
    PerfbenchBus.drain(spark.sparkContext)
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
    def arr(xs: Iterable[String]) = xs.mkString("[", ",\n", "]")
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus" -> cpus.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "java" -> json(System.getProperty("java.version")),
      "spark" -> json(spark.version)).map { case (k, v) => s"${json(k)}:$v" }.mkString("{", ",", "}")
    val body = Seq(
      "host" -> host,
      "session_s" -> sessionS.toString,
      "warmup_s" -> warmS.toString,
      "warmup_walls" -> warmup.mkString("[", ",", "]"),
      "measured_s" -> measuredS.toString,
      "peak_rss_mb" -> rss.toString,
      "ops" -> arr(ops),
      "errors" -> arr(errors.map(json)),
      "spans" -> arr(spans.map(s => s"[${s.id},${s.parent},${s.op},${json(s.name)},${s.t0},${s.t1}]")),
      "jobs" -> arr(recorder.jobs),
      "stages" -> arr(recorder.stages),
      "tasks" -> arr(recorder.tasks),
      "planning" -> arr(recorder.planning),
      "progress" -> arr(progress.batches)) ++ extra
    Files.writeString(Paths.get(out),
      body.map { case (k, v) => s"${json(k)}:$v" }.mkString("{\n", ",\n", "}\n"))
    spark.stop()
  }

  private def listDir(p: String): Seq[Path] = {
    val s = Files.list(Paths.get(p))
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sortBy(_.toString) }
    finally s.close()
  }

  // ---- etl_snapshots: land a raw API snapshot, then transform and load it

  private def etl(): (Double, Double, Seq[(String, String)]) = {
    val pool = listDir(s"$in/snapshots")
    val raw = s"$work/raw"
    val wh = s"$work/warehouse/courses"
    var k = 0
    def snapshotUnit(warm: Boolean): Double = {
      val ts = f"20260101_$k%06d"
      val dir = Paths.get(s"$raw/snapshot=$ts")
      Files.createDirectories(dir)
      Files.copy(pool(k % pool.size), dir.resolve("response.json"), StandardCopyOption.REPLACE_EXISTING)
      k += 1
      val csv = s"$work/csv/snapshot=$ts"
      op("snapshot", warm) {
        val latest = span("latest_pick")(Sinks.latestSnapshotPath(spark, raw)).get
        val flat = span("read_flatten")(
          CourseFlatten.flatten(CourseraJson.readCollections(spark, latest)))
        span("csv_write")(Sinks.writeCourseCsv(flat, csv))
        span("append")(Sinks.appendParquetChecked(spark, Sinks.readCourseCsv(spark, csv), wh))
        val rows = span("readback")(spark.read.parquet(wh).count())
        Seq("ts" -> s""""$ts"""", "pool" -> ((k - 1) % pool.size).toString,
          "picked_latest" -> latest.endsWith(s"snapshot=$ts").toString,
          "warehouse_rows" -> rows.toString)
      }
    }
    val warmS = warmUp(4)(snapshotUnit(warm = true))
    val measured = measure(() => snapshotUnit(warm = false))
    val files = listDir(wh).count(_.getFileName.toString.endsWith(".parquet"))
    (warmS, measured, Seq("warehouse_files" -> files.toString, "snapshots_landed" -> k.toString))
  }

  // ---- corpus_pipeline: a drop of documents arrives and is screened by
  // streamed near-dedup; the raw documents are curated into a sized
  // corpus; SparkEntry seats query the same documents

  private def pipeline(): (Double, Double, Seq[(String, String)]) = {
    val drops = listDir(s"$in/drops")
    val landing = s"$work/landing"
    val state = s"$work/ingest_state"
    val checkpoint = s"$work/ingest_checkpoint"
    Files.createDirectories(Paths.get(landing))
    val schema = spark.read.parquet(drops.head.toString).schema
    var k = 0
    def unit(warm: Boolean): Double = {
      val drop = drops(k)
      Files.copy(drop, Paths.get(landing).resolve(drop.getFileName))
      k += 1
      val w = op("pass", warm) {
        span("ingest") {
          val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(landing)
          val q = CorpusIngest.maintainAvailableNow(source, state, checkpoint, CompactEvery)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        }
        val (nIn, nKept) = span("materialize")(Corpus.materialize(spark, s"$in/corpus", s"$work/corpus_out"))
        // timed passes run the seats into the noop sink; warm-up passes
        // keep their results for the oracle check
        for (q <- QuerySeats) span(q) {
          val w = SparkEntry.queries(q)(spark, s"$in/corpus").write.mode("overwrite")
          if (warm) w.parquet(s"$work/seat_out/$q") else w.format("noop").save()
        }
        Seq("batch" -> (k - 1).toString, "compaction" -> (k > 1 && (k - 1) % CompactEvery == 0).toString,
          "docs_in" -> nIn.toString, "docs_kept" -> nKept.toString)
      }
      spark.catalog.clearCache() // decide() leaves its cached frames behind
      w
    }
    val warmS = warmUp(1)(unit(warm = true))
    val measured = measure(() => unit(warm = false), () => k < drops.size)
    val stateFiles = Seq("corpus", "index", "dups").map { sub =>
      val s = Files.walk(Paths.get(s"$state/$sub"))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count() finally s.close()
    }.sum
    val oracles = QuerySeats.map(q => s"${json(q)}:${json(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    (warmS, measured, Seq("drops_landed" -> k.toString, "state_files" -> stateFiles.toString,
      "corpus_keep_oracle" -> json(SparkEntry.oracleSql("corpus_keep")),
      "pairs_oracle" -> json(SparkEntry.oracleSql("dedup_minhash")),
      "seat_oracles" -> oracles))
  }

  /** Every CompactEvery-th ingest batch collapses the state's batch
    * partitions (`compactState`); the others bin-pack small files in
    * place (`Warehouse.compactPartitionedSmallFiles`). A run makes only
    * a few batches, so both kinds come round within it. */
  private val CompactEvery = 2

  /** The SparkEntry seats of each pass, over the documents table: a
    * shuffle- and compute-bound one and a short scan. */
  private val QuerySeats = Seq("text_ngram_jaccard", "text_filter")
}
