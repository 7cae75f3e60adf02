package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, PipelineDB, SparkEntry}
import graft.graph.GraphDB
import graft.sources.GraphStore

/** One timed call into a layer: name, parent, start and end, plus the
  * Spark work the traced run attributes to it (its own and its
  * children's). `attrs` holds JSON literals the output checks read. */
final class Span(val id: Int, val name: String, val parent: Int) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  val cpu0Ns: Long = Span.processCpuNs()
  var t1Ns, t1Ms, cpu1Ns = 0L
  val attrs = mutable.LinkedHashMap.empty[String, String]
  var jobs, stages, tasks, shuffleBytes, spillBytes, inputRecords = 0L
  var batches = 0L
  var failed = false
  val batchMs = mutable.ArrayBuffer.empty[Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** SQL actions other than a checkpoint started from `Bfs.scala`:
    * the BFS loop's control, one per wave. */
  var bfsActions = 0L
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

object Span {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM so far. Time the host takes
    * from the machine (steal) is not in it, unlike in wall time. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Records spans around the benchmark's calls into the program and,
  * while `traced`, counts the Spark jobs, stages, tasks, shuffle,
  * spill and streaming micro-batches each call caused. Jobs find
  * their span through a local property (inherited by the streaming
  * threads a call starts); micro-batches by their progress time.
  * Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  private val Key = "perfbench.span"
  /** A SQL execution's description (the action's short call site)
    * for an action in the BFS module that is not a checkpoint. */
  private val BfsAction = raw"(?!localCheckpoint |checkpoint )\w+ at Bfs\.scala:\d+".r
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val progress = mutable.ArrayBuffer.empty[(Long, Long)]
  private val bfsActionAt = mutable.ArrayBuffer.empty[Long]
  private var events = 0L
  private var traced = false

  /** Whether this run counts work; the benchmark's own probes of the
    * store layout run only then, so untimed runs time program calls. */
  def tracing: Boolean = traced

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized {
          events += 1
          if (BfsAction.matches(x.description)) bfsActionAt += x.time
        }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      events += 1
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      id.map(_.toInt).filter(_ < spans.size).map(spans(_)).foreach { sp =>
        sp.jobs += 1
        jobSpan(e.jobId) = sp
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = sp)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      events += 1
      jobSpan.remove(e.jobId).foreach(_.jobIntervals += (jobStart(e.jobId) -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      events += 1
      val info = e.stageInfo
      stageSpan.remove(info.stageId).foreach { sp =>
        sp.stages += 1
        sp.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          sp.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          sp.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          sp.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  /** Count work from here on (listener attached) or stop counting. */
  def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      ProgressListener.sink = Some { (at: Long, ms: Long) =>
        synchronized { events += 1; progress += (at -> ms) }
      }
    } else {
      quiesce()
      spark.sparkContext.removeSparkListener(listener)
      ProgressListener.sink = None
    }
    traced = on
  }

  /** A span around one operation of a pass: a call that throws is
    * recorded on its span as failed, and the pass goes on. */
  def op(name: String)(body: Span => Unit): Span = span(name) { sp =>
    try body(sp)
    catch {
      case NonFatal(e) =>
        sp.failed = true
        System.err.println(s"operation $name failed:")
        e.printStackTrace()
    }
    sp
  }

  def span[T](name: String)(body: Span => T): T = {
    val sp = synchronized {
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
      spans += sp
      sp
    }
    stack = sp :: stack
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, sp.id.toString)
    try body(sp)
    finally {
      sp.t1Ns = System.nanoTime()
      sp.t1Ms = System.currentTimeMillis()
      sp.cpu1Ns = Span.processCpuNs()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  /** The listener bus has no public flush: wait until no event has
    * arrived for 300 ms (10 s cap). */
  def quiesce(): Unit = {
    var last = -1L
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline && System.nanoTime() - stableSince < 300L * 1000 * 1000) {
      val now = synchronized(events)
      if (now != last) { last = now; stableSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  /** One JSON line per span, counts summed over the span's subtree;
    * `job_busy_s` is the union of its jobs' intervals within the span.
    * Events that carry only a time go to the innermost span around it. */
  def write(path: Path): Unit = synchronized {
    val children = spans.groupBy(_.parent)
    def subtree(sp: Span): Seq[Span] = sp +: children.getOrElse(sp.id, Nil).flatMap(subtree).toSeq
    def innermost(at: Long) = spans.filter(sp => sp.t0Ms <= at && at <= sp.t1Ms).sortBy(-_.t0Ns).headOption
    progress.foreach { case (at, ms) => innermost(at).foreach { sp => sp.batches += 1; sp.batchMs += ms } }
    bfsActionAt.foreach(at => innermost(at).foreach(_.bfsActions += 1))
    val lines = spans.map { sp =>
      val all = subtree(sp)
      def sum(f: Span => Long) = all.map(f).sum
      val busyMs = all.flatMap(_.jobIntervals)
        .map { case (a, b) => (math.max(a, sp.t0Ms), math.min(b, sp.t1Ms)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
          if (a >= end) (tot + b - a, b) else if (b > end) (tot + b - end, b) else (tot, end)
        }._1
      val fields = Seq(
        "id" -> sp.id.toString, "name" -> Json.str(sp.name), "parent" -> sp.parent.toString,
        "t0_ms" -> sp.t0Ms.toString, "t1_ms" -> sp.t1Ms.toString, "s" -> sp.seconds.toString,
        "cpu_s" -> ((sp.cpu1Ns - sp.cpu0Ns) / 1e9).toString,
        "jobs" -> sum(_.jobs).toString, "stages" -> sum(_.stages).toString,
        "tasks" -> sum(_.tasks).toString, "shuffle_bytes" -> sum(_.shuffleBytes).toString,
        "spill_bytes" -> sum(_.spillBytes).toString,
        "bfs_actions" -> sum(_.bfsActions).toString,
        "failed" -> sp.failed.toString,
        "input_records" -> sum(_.inputRecords).toString,
        "job_busy_s" -> (busyMs / 1e3).toString,
        "batches" -> sum(_.batches).toString,
        "batch_ms" -> all.flatMap(_.batchMs).mkString("[", ",", "]"),
        "attrs" -> sp.attrs.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    }
    Files.write(path, lines.asJava)
  }
}

/** Micro-batch progress of every session's streaming queries — the
  * replay harness runs its queries on sessions of its own, so the
  * listener is registered through
  * `spark.sql.streaming.streamingQueryListeners` (traced runs only). */
class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    ProgressListener.sink.foreach(_(
      java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
      Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
}

object ProgressListener {
  @volatile var sink: Option[(Long, Long) => Unit] = None
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[Any]): String = xs.mkString("[", ",", "]")
}

/** A workload: input staging, then timed passes of a fixed operation
  * list. */
trait Workload {
  def setup(): Unit
  /** Untimed, before pass `i` > 1: bring the inputs back to the state
    * pass 1 started from. */
  def reset(i: Int): Unit = ()
  def pass(i: Int): Unit
  /** Untimed, after the first timed pass: write what the output
    * checks read beyond the spans. */
  def dumpForChecks(): Unit = ()
  /** Bytes under the workload's store root. */
  def bytesStored: Long
}

object PerfBench {
  /** Where pass `i` writes one call's result. The first timed pass's
    * results are kept for the output checks; later passes' are
    * deleted after the pass. */
  def output(out: Path, i: Int, name: String): String = out.resolve(s"p$i/$name").toString

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Args: workload inputDir workDir seconds trace cpus t0EpochNs. */
  def main(args: Array[String]): Unit = {
    val Array(name, inDir, workDir, secondsArg, traceArg, cpusArg, t0Arg) = args
    val in = Paths.get(inDir)
    val work = Paths.get(workDir)
    val out = Files.createDirectories(work.resolve("out"))
    val cpus = cpusArg.toInt
    val traced = traceArg == "1"
    val builder = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced)
      builder.config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val w: Workload = name match {
      case "store_oltp"      => new StoreOltp(spark, tracer, in, work, out)
      case "pipeline_cold"   => new PipelineCold(spark, tracer, in, work, out)
      case "graph_iterative" => new GraphIterative(spark, tracer, in, work, out)
    }
    try {
      w.setup()
      val now = java.time.Instant.now()
      val setupS = (now.getEpochSecond * 1000000000L + now.getNano - t0Arg.toLong) / 1e9
      tracer.setTraced(traced)
      val seconds = secondsArg.toDouble
      val start = System.nanoTime()
      var i = 1
      while (i == 1 || (System.nanoTime() - start) / 1e9 < seconds) {
        if (i > 1) w.reset(i)
        tracer.span("pass")(_ => w.pass(i))
        if (i == 1) w.dumpForChecks()
        if (i > 1) graft.util.Scratch.deleteRecursively(out.resolve(s"p$i"))
        i += 1
      }
      tracer.setTraced(false)
      tracer.write(work.resolve("spans.jsonl"))
      Files.writeString(work.resolve("run.json"),
        s"""{"setup_s":$setupS,"bytes_stored":${w.bytesStored},"oracle_sql":{""" +
          SparkEntry.oracleSql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",") +
          "}}")
    } finally spark.stop()
  }
}

/** A synthetic store traffic mix over a GraphDB, built from the calls
  * the reference's PersistentDataBase makes (INSERT-OR-IGNORE upserts,
  * BFS queries, stats) plus compaction: a fixed schedule, replayed
  * from a fresh store each pass. */
final class StoreOltp(spark: SparkSession, t: Tracer, in: Path, work: Path, out: Path)
    extends Workload {
  private val ops = Files.readAllLines(in.resolve("schedule.txt")).asScala.filter(_.nonEmpty).toSeq
  private val base = spark.read.parquet(in.resolve("base.parquet").toString)
  private def root(i: Int) = work.resolve(s"store/p$i")
  private var last = 0

  def setup(): Unit = new GraphDB(spark, root(1).toString).init(base)

  /** Delta snapshots a read of the latest version unions. */
  private def chainLen(r: Path): Int = {
    val versions = GraphStore.committedVersions(spark, r.toString)
    Iterator.iterate(Option(versions.max)) { v =>
      v.map(x => r.resolve(s"v=$x/_PARENT")).filter(Files.exists(_))
        .map(p => Files.readString(p).trim.toInt)
    }.takeWhile(_.isDefined).size
  }

  override def reset(i: Int): Unit = {
    graft.util.Scratch.deleteRecursively(root(i - 1))
    new GraphDB(spark, root(i).toString).init(base)
  }

  def pass(i: Int): Unit = {
    val r = root(i)
    val db = new GraphDB(spark, r.toString)
    last = i
    ops.foreach { op =>
      op.split(" ").toList match {
        case List("upsert", file) =>
          val delta = spark.read.parquet(in.resolve(file).toString)
          val before = if (t.tracing) PerfBench.dirBytes(r) else 0L
          val sp = t.op("store.upsert") { sp =>
            sp.attrs("version") = db.addRelations(delta).toString
          }
          if (t.tracing) sp.attrs("bytes_written") = (PerfBench.dirBytes(r) - before).toString
        case List("query", a, b) =>
          val chain = if (t.tracing) chainLen(r) else 0
          t.op("bfs.query") { sp =>
            sp.attrs("wave") = db.query(a.toLong, b.toLong).toString
            sp.attrs("chain") = chain.toString
          }
        case List("batch", list) =>
          val pairs = list.split(",").toSeq.map { p =>
            val Array(a, b) = p.split(":"); (a.toLong, b.toLong)
          }
          t.op("bfs.batch") { sp =>
            sp.attrs("waves") = Json.arr(db.queryBatch(pairs).map(_._3))
          }
        case List("stats") =>
          t.op("store.stats") { sp =>
            val row = db.stats().head()
            sp.attrs("stats") = Json.arr(Seq(row.getLong(0), row.getLong(1), row.getDouble(2)))
            sp.attrs("entries") = db.numberEntries().toString
          }
        case List("compact") =>
          val sp = t.op("store.compact") { _ =>
            GraphStore.compact(spark, r.toString)
            GraphStore.vacuum(spark, r.toString)
          }
          if (t.tracing)
            sp.attrs("versions") = GraphStore.committedVersions(spark, r.toString).size.toString
        case other => throw new IllegalArgumentException(s"bad schedule line: $other")
      }
    }
  }

  override def dumpForChecks(): Unit = {
    new GraphDB(spark, root(1).toString).edges.write.parquet(out.resolve("edges_final").toString)
    GraphStore.readVersion(spark, root(1).toString, 2).write.parquet(out.resolve("edges_v2").toString)
  }

  def bytesStored: Long = PerfBench.dirBytes(root(last))
}

/** One cold corpus-preparation run: every pass in a fresh session over
  * tables imported once into a PipelineDB root. */
final class PipelineCold(spark: SparkSession, t: Tracer, in: Path, work: Path, out: Path)
    extends Workload {
  private val root = work.resolve("pipeline.db").toString

  def setup(): Unit = {
    val db = new PipelineDB(spark, root)
    Seq("documents", "embeddings", "lineitem", "events").foreach { n =>
      db.importTable(n, spark.read.parquet(in.resolve(s"$n.parquet").toString))
    }
  }

  def pass(i: Int): Unit = {
    val db = new PipelineDB(spark.newSession(), root)
    val calls: Seq[(String, String, () => DataFrame)] = Seq(
      ("dedup.minhash", "d_minhash_lsh", () => db.dedup("minhash")),
      ("dedup.ngram", "d_ngram_jaccard", () => db.dedup("ngram")),
      ("dedup.clusters", "d_cluster", () => db.dupClusters()),
      ("dedup.canonical", "d_canonical", () => db.canonical()),
      ("similarity.knn_ivf", "s_knn_ivf", () => db.knn("ivf")),
      ("similarity.knn_brute", "s_knn_brute", () => db.knn("brute")),
      ("text.quality", "t_quality", () => db.textSignals("quality")),
      ("text.fingerprint", "t_fingerprint", () => db.textSignals("fingerprint")),
      ("text.split", "t_split", () => db.splitCorpus()),
      ("text.pipeline", "t_pipeline", () => db.run("t_pipeline")),
      ("relational.upsert_dedup", "q_upsert_dedup", () => db.run("q_upsert_dedup")),
      ("streaming.window", "e_stream_window", () => db.stream("window")),
      ("streaming.dedup", "e_stream_dedup", () => db.stream("dedup")))
    calls.foreach { case (span, key, call) =>
      t.op(span) { sp =>
        sp.attrs("key") = Json.str(key)
        call().write.parquet(PerfBench.output(out, i, key))
      }
    }
  }

  def bytesStored: Long = PerfBench.dirBytes(Paths.get(root))
}

/** The iterative graph engines: the quotient-routed shipped keys over
  * the imported tables, then the general engines over a random graph
  * held in a GraphDB. Every pass in a fresh session. */
final class GraphIterative(spark: SparkSession, t: Tracer, in: Path, work: Path, out: Path)
    extends Workload {
  private val root = work.resolve("graph.db").toString
  private val groot = work.resolve("general.store").toString
  private val Array(trussK, walkSteps) =
    Files.readString(in.resolve("general_params.txt")).trim.split(" ").map(_.toInt)
  private val keys = Seq("g_louvain", "g_sssp", "g_walks", "g_cc", "g_pagerank", "g_kcore", "g_expand")

  def setup(): Unit = {
    val db = new PipelineDB(spark, root)
    Seq("part", "nation", "customer", "supplier", "orders", "lineitem").foreach { n =>
      db.importTable(n, spark.read.parquet(in.resolve(s"$n.parquet").toString))
    }
    new GraphDB(spark, groot).init(spark.read.parquet(in.resolve("general.parquet").toString))
  }

  def pass(i: Int): Unit = {
    val s = spark.newSession()
    val seeds = s.read.parquet(in.resolve("walk_seeds.parquet").toString)
    def run(span: String, name: String)(df: => DataFrame): Unit =
      t.op(span) { sp =>
        sp.attrs("key") = Json.str(name)
        df.write.parquet(PerfBench.output(out, i, name))
      }
    keys.foreach(k => run(s"graph.$k", k)(SparkEntry.queries(k)(s, root)))
    val g = new GraphDB(s, groot)
    run("graph.general.ktruss", "general_ktruss")(g.ktruss(trussK))
    run("graph.general.walks", "general_walks")(g.walks(seeds, walkSteps))
    run("graph.general.betweenness", "general_betweenness")(g.betweenness())
  }

  def bytesStored: Long = PerfBench.dirBytes(Paths.get(groot))
}
