package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.{Engine, Q, SparkEntry}
import graft.streaming.FileReplay

/** The benchmark's engine-side harness: one client thread, closed loop,
  * against one `Engine.session`.
  *
  * `run.py` builds this and launches it once per run. The harness sets
  * up (session, table mount, replay corpora, warm-up passes over the
  * mix), then runs whole timed passes over the mix in the order the plan
  * file gives, and writes one JSON record of raw observations: per
  * operation (warm-up ones included, as pass 0) its wall time, status and
  * output digest, and in a traced run also its spans and per-layer
  * counters. `run.py` turns the record into metrics and checks the
  * digests.
  *
  * Usage: perfbench.Main --workload W --seed N --plan FILE --out FILE
  *   --sf DIR --cores N --seconds S --trace 0|1 --t0-ns NS
  * The plan file holds one pass per line: `warmup` or `timed`, then the
  * pass's entry names, space separated. Timed passes run while the
  * timed wall stays nearest to --seconds, and at least one runs.
  */
object Main {

  /** An operation with no result after this long counts as timed out. */
  val OpTimeoutS = 60L

  final case class Args(workload: String, seed: Long, plan: String,
      out: String, sf: String, cores: Int, seconds: Double, traced: Boolean,
      t0Ns: Long)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("plan"), kv("out"), kv("sf"),
      kv("cores").toInt, kv("seconds").toDouble, kv("trace") == "1",
      kv("t0-ns").toLong)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 3 }
    System.exit(code)
  }

  /** Epoch nanoseconds on the monotonic clock. */
  object Clock {
    private val baseNano = System.nanoTime()
    private val baseEpoch = {
      val i = java.time.Instant.now()
      i.getEpochSecond * 1000000000L + i.getNano
    }
    def now: Long = baseEpoch + (System.nanoTime() - baseNano)
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  def heapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def rssPeakKb: Long =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { s =>
      s.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    }.getOrElse(-1L)

  /** Codegen compiles, compile time (ns), JVM GC time (ms): the
    * process-wide counters an operation moves.
    */
  final case class Counters(compiles: Long, compileNs: Long, gc: Long) {
    def since(o: Counters): Map[String, Any] = Map(
      "codegen_compiles" -> (compiles - o.compiles),
      "codegen_compile_ms" -> (compileNs - o.compileNs) / 1e6,
      "jvm_gc_ms" -> (gc - o.gc))
  }
  def counters(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime, gcMs)

  def run(a: Args): Int = {
    val spark = Engine.session(a.cores.toString, "perfbench")
    val sessionDone = Clock.now
    Engine.register(spark, a.sf)
    val mountDone = Clock.now
    val rec = new Recorder(spark, a.traced)
    val (warmup, timed) = scala.io.Source.fromFile(a.plan).getLines().map(_.trim)
      .filter(_.nonEmpty).map(_.split(" ").toSeq).toVector
      .partition(_.head == "warmup")
    val workload: Workload =
      if (a.workload == "stream_replay") new StreamWorkload(spark, a, rec)
      else new BatchWorkload(spark, a, rec)
    val client = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    def onClient(f: => Any): Either[(String, String), Any] = {
      val fut = client.submit(() => f)
      try Right(fut.get(OpTimeoutS, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          workload.cancel()
          fut.cancel(true)
          try fut.get(30, TimeUnit.SECONDS) catch { case _: Throwable => () }
          Left(("timeout", s"no result within $OpTimeoutS s"))
        case e: java.util.concurrent.ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          Left(("error", s"${c.getClass.getName}: ${c.getMessage}".take(500)))
      }
    }

    workload.prepare((warmup ++ timed).flatMap(_.tail).distinct)
    val prepDone = Clock.now
    // warm-up ops are checked and recorded like timed ones, as pass 0
    warmup.map(_.tail).zipWithIndex.foreach { case (line, w) =>
      line.zipWithIndex.foreach { case (e, i) =>
        workload.runOp(e, s"w$w.$i", 0, onClient)
      }
    }
    val warmDone = Clock.now

    // timed: whole passes, as many as bring the timed wall nearest to
    // --seconds, or all the plan holds
    var pass = 1
    var checkNs = 0L
    val timedStart = Clock.now
    var lastPassNs = 0L
    def more: Boolean = pass <= timed.size &&
      (pass == 1 || (Clock.now - timedStart) + lastPassNs / 2 < a.seconds * 1e9)
    while (more) {
      val p0 = Clock.now
      timed(pass - 1).tail.zipWithIndex.foreach { case (e, i) =>
        checkNs += workload.runOp(e, s"p$pass.$i", pass, onClient)
      }
      lastPassNs = Clock.now - p0
      pass += 1
    }
    val timedEnd = Clock.now
    rec.drain()

    val out = Map(
      "workload" -> a.workload, "traced" -> a.traced, "cores" -> a.cores,
      "t0_ns" -> a.t0Ns, "first_op_ns" -> timedStart,
      "setup_phases_ms" -> Map(
        "jvm_and_session" -> (sessionDone - a.t0Ns) / 1e6,
        "mount" -> (mountDone - sessionDone) / 1e6,
        "prepare" -> (prepDone - mountDone) / 1e6,
        "warmup" -> (warmDone - prepDone) / 1e6),
      "timed_start_ns" -> timedStart, "timed_end_ns" -> timedEnd,
      "check_ms" -> checkNs / 1e6,
      "passes" -> (pass - 1),
      "rss_peak_kb" -> rssPeakKb,
      "ops" -> workload.records(rec))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValueAsString(out))
    client.shutdownNow()
    spark.stop()
    0
  }
}

/** A workload's operations. `runOp` runs one mix entry (blocking) and
  * returns the nanoseconds its output check took inside the timed region.
  */
trait Workload {
  def prepare(entries: Seq[String]): Unit
  def runOp(entry: String, id: String, pass: Int,
      onClient: (=> Any) => Either[(String, String), Any]): Long
  def cancel(): Unit
  def records(rec: Recorder): Seq[Map[String, Any]]
}

object Workload {
  import Main.Clock

  def digestOf(schema: StructType, rows: Array[Row]): Map[String, Any] = {
    val d = Digest.of(schema, rows)
    Map("rows" -> d.rows, "digest" -> d.digest)
  }

  /** Spans of one operation's listener-seen jobs and stages. */
  def execSpans(x: ExecAgg, parent: Long): Seq[Span] =
    x.jobSpans.toSeq.map(_.copy(parent = parent)) ++ x.stageSpans

  def timeMs(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def now: Long = Clock.now
}

/** `sql_interactive` and `pipeline_batch`: one operation is one registry
  * entry, from the call into `Q.run` until its last row is collected.
  */
final class BatchWorkload(spark: SparkSession, a: Main.Args, rec: Recorder)
    extends Workload {
  import Workload._

  private val byName: Map[String, Q] = SparkEntry.all.map(q => q.name -> q).toMap
  private val out = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var group = ""

  def prepare(entries: Seq[String]): Unit =
    entries.foreach(e => require(byName.contains(e), s"unknown registry entry $e"))

  def cancel(): Unit = spark.sparkContext.cancelJobGroup(group)

  def runOp(entry: String, id: String, pass: Int,
      onClient: (=> Any) => Either[(String, String), Any]): Long = {
    val q = byName(entry)
    val sc = spark.sparkContext
    group = id
    rec.current = id
    val c0 = Main.counters()
    val t0 = now
    val res = onClient {
      sc.setJobGroup(id, entry, interruptOnCancel = true)
      try {
        val df = q.run(spark, a.sf)
        val t1 = now
        val (t2, t3) =
          if (a.traced) {
            df.queryExecution.optimizedPlan
            val t2 = now
            df.queryExecution.executedPlan
            (t2, now)
          } else (t1, t1)
        val rows = df.collect()
        (df.schema, rows, Seq(t0, t1, t2, t3, now))
      } finally sc.clearJobGroup()
    }
    val tEnd = now
    val c1 = Main.counters()
    val heap = Main.heapMb
    val checkStart = now
    val (status, detail, times) = res match {
      case Right((schema: StructType, rows: Array[Row], ts: Seq[Long] @unchecked)) =>
        ("ok", digestOf(schema, rows), ts)
      case Left((st, msg)) => (st, Map("error" -> msg), Seq(t0, tEnd))
      case Right(other) => ("error", Map("error" -> s"unexpected $other"), Seq(t0, tEnd))
    }
    val checkNs = now - checkStart
    val base = Map[String, Any]("id" -> id, "entry" -> entry, "pass" -> pass,
      "status" -> status, "start_ns" -> t0, "end_ns" -> times.last,
      "wall_ms" -> timeMs(t0, times.last), "group" -> id) ++ detail
    val traced =
      if (!a.traced) Map.empty[String, Any]
      else {
        rec.drain()
        val p = rec.planOf(id)
        val opSpan = rec.nextId()
        val phases =
          if (times.size == 5) Seq("engine.build", "catalyst.optimize",
            "catalyst.plan", "exec.collect").zipWithIndex.map { case (n, i) =>
            Span(rec.nextId(), opSpan, n, times(i), times(i + 1))
          } else Nil
        val spans = Span(opSpan, 0L, "op", t0, times.last, Map(
          "workload" -> a.workload, "entry" -> entry, "seed" -> a.seed,
          "op_id" -> id)) +: phases
        Map("counters" -> (c1.since(c0) ++ Map(
          "heap_used_mb" -> heap,
          "retained_bytes" -> rec.retainedBytes(p.blockRdds)) ++ p.toMap),
          "spans" -> (spans ++ execSpans(rec.execOf(id), opSpan)).map(_.toMap))
      }
    out += base ++ traced
    checkNs
  }

  def records(rec: Recorder): Seq[Map[String, Any]] =
    out.toSeq.map(o => o ++ Map("exec" -> rec.execOf(o("group").toString).toMap))
}

/** `stream_replay`: each mix entry is one streaming twin, replayed from
  * its corpus through `FileReplay` as micro-batches until the replay is
  * drained; one operation is one trigger.
  */
final class StreamWorkload(spark: SparkSession, a: Main.Args, rec: Recorder)
    extends Workload {
  import Workload._

  private val dirs = mutable.Map.empty[String, String]  // twin -> replay dir
  private val replays = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var active: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
  private val ckptRoot = java.nio.file.Files.createTempDirectory("perfbench_ckpt")

  def prepare(entries: Seq[String]): Unit =
    entries.map(e => Streams.byName.getOrElse(e,
      throw new IllegalArgumentException(s"unknown streaming twin $e")))
      .foreach { t => dirs(t.name) = FileReplay.write(t.source(spark, a.sf), t.order) }

  def cancel(): Unit = active.foreach(_.stop())

  private def dirBytes(p: java.nio.file.Path): Long =
    scala.util.Using(java.nio.file.Files.walk(p)) { s =>
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }.getOrElse(0L)

  def runOp(entry: String, id: String, pass: Int,
      onClient: (=> Any) => Either[(String, String), Any]): Long = {
    val twin = Streams.byName(entry)
    val name = s"perfbench_${id.replace('.', '_')}"
    val ckpt = ckptRoot.resolve(name)
    rec.current = id
    val c0 = Main.counters()
    val t0 = now
    val res = onClient {
      spark.sparkContext.setJobGroup(id, entry, interruptOnCancel = true)
      val df = twin.query(spark, a.sf, FileReplay.read(spark, dirs(entry)))
      val t1 = now
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(twin.outputMode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      active = Some(q)
      try q.awaitTermination()
      finally { active = None; spark.sparkContext.clearJobGroup() }
      (q, t1)
    }
    val tEnd = now
    val c1 = Main.counters()
    val heap = Main.heapMb
    val checkStart = now
    val (status, detail, progress, t1) = res match {
      case Right((q: org.apache.spark.sql.streaming.StreamingQuery, t1: Long)) =>
        val ps = q.recentProgress.toSeq
        val d = rec.outside {
          val tbl = spark.table(name)
          digestOf(tbl.schema, tbl.collect())
        }
        ("ok", d, ps, t1)
      case Left((st, msg)) => (st, Map("error" -> msg), Nil, tEnd)
      case Right(other) => ("error", Map("error" -> s"unexpected $other"), Nil, tEnd)
    }
    spark.catalog.dropTempView(name)
    val ckptBytes = dirBytes(ckpt)
    val checkNs = now - checkStart
    val triggers = progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.toSeq
      val start = java.time.Instant.parse(p.timestamp)
      Map[String, Any]("id" -> s"$id/b${p.batchId}", "batch_id" -> p.batchId,
        "group" -> rec.streamGroup(p.id.toString, p.batchId),
        "start_ns" -> (start.getEpochSecond * 1000000000L + start.getNano),
        "wall_ms" -> d.getOrElse("triggerExecution", 0L).toDouble,
        "durations_ms" -> d, "input_rows" -> p.numInputRows,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum)
    }
    val traced =
      if (!a.traced) Map.empty[String, Any]
      else {
        rec.drain()
        val p = rec.planOf(id)
        Map("counters" -> (c1.since(c0) ++ Map("heap_used_mb" -> heap,
          "retained_bytes" -> rec.retainedBytes(p.blockRdds)) ++ p.toMap))
      }
    replays += Map[String, Any]("id" -> id, "entry" -> entry, "pass" -> pass,
      "status" -> status, "start_ns" -> t0, "end_ns" -> tEnd,
      "build_ms" -> timeMs(t0, t1), "checkpoint_bytes" -> ckptBytes,
      "triggers" -> triggers) ++ detail ++ traced
    checkNs
  }

  def records(rec: Recorder): Seq[Map[String, Any]] =
    replays.toSeq.map { r =>
      val ts = r("triggers").asInstanceOf[Seq[Map[String, Any]]].map { t =>
        val x = rec.execOf(t("group").toString)
        val spans =
          if (!a.traced) Nil
          else {
            val op = rec.nextId()
            val trig = rec.nextId()
            val start = t("start_ns").asInstanceOf[Long]
            val wallNs = (t("wall_ms").asInstanceOf[Double] * 1e6).toLong
            val d = t("durations_ms").asInstanceOf[Map[String, Long]]
            // MicroBatchExecution's phase order within a trigger; the
            // progress gives durations only, so phases are laid end to
            // end from the trigger's start (the trigger's jobs, timed by
            // the listener, are its own children)
            var at = start
            val phases = Seq("latestOffset", "walCommit", "getBatch",
              "queryPlanning", "addBatch", "commitOffsets").flatMap { k =>
              d.get(k).map { ms =>
                val s = Span(rec.nextId(), trig, s"stream.$k", at, at + ms * 1000000L)
                at = s.endNs
                s
              }
            }
            Seq(Span(op, 0L, "op", start, start + wallNs, Map(
                "workload" -> a.workload, "entry" -> r("entry"), "seed" -> a.seed,
                "op_id" -> t("id"))),
              Span(trig, op, "stream.trigger", start, start + wallNs)) ++
              phases ++ execSpans(x, trig)
          }
        t ++ Map("exec" -> x.toMap, "spans" -> spans.map(_.toMap))
      }
      // jobs the client thread ran for this replay (its build's jobs)
      val own = rec.execOf(r("id").toString).jobSpans.toSeq
        .map(j => Seq(j.startNs, j.endNs))
      r ++ Map("triggers" -> ts, "build_jobs" -> own)
    }
}
