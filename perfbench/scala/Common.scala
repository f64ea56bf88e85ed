package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Shared pieces of the benchmark JVM: session shape, the span tracer,
  * the per-job-group Spark listener, JSON output and small statistics.
  * Every line meant for the orchestrator (`run.py`) starts with `@@`;
  * Spark's own logging goes to stderr. */
object Common {

  def session(nproc: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def emit(tag: String, fields: Map[String, Any]): Unit = {
    println(s"@@$tag ${json(fields)}")
    Console.out.flush()
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def now(): Double = System.nanoTime() / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def sha256(parts: Iterable[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** On-disk bytes and parquet file count under `path`. */
  def diskUsage(path: String): (Long, Long) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) return (0L, 0L)
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try {
      val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum,
        files.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    } finally walk.close()
  }
}

/** The contention stamp: `graft.Bench.probeOnce` (fixed CPU work)
  * brackets each timed phase. The ratio of the slowest to the fastest
  * bracket is ~1 on a quiet host and grows when the run was contended. */
final class Probes {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def take(): Unit = synchronized { xs += graft.Bench.probeOnce() }
  def ratio: Double = synchronized {
    if (xs.size < 2) 1.0 else xs.max / xs.min
  }
}

/** In-memory spans: name, start, end, parent, request id. Recorded
  * only around the benchmark's calls into each layer. */
final class Tracer {
  final case class Span(id: Int, parent: Int, req: Int, name: String,
      startNs: Long, var endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[A](name: String, req: Int)(f: => A): A = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      req, name, System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    try f finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** A span's self time: its duration minus the part its children
    * cover (children here run sequentially inside the parent). */
  def selfTimes: Seq[(Span, Double)] = {
    val childSum = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0)
      childSum(s.parent) += s.endNs - s.startNs)
    spans.toSeq.map(s => (s, (s.endNs - s.startNs - childSum(s.id)) / 1e9))
  }

  def dump(path: String): Unit =
    Common.writeFile(path, spans.map { s =>
      Common.json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n"))
}

/** Spark execution counters per job group, from the listener bus.
  * The benchmark sets a fresh job group around each traced call. */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var recordsRead = 0L
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.cpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }

  /** Sum of the counters over the groups whose name matches. */
  def sum(pred: String => Boolean): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) =>
      if (pred(g)) {
        out.jobs += a.jobs; out.stages += a.stages
        out.cpuNs += a.cpuNs; out.shuffleBytes += a.shuffleBytes
        out.spillBytes += a.spillBytes; out.recordsRead += a.recordsRead
      }
    }
    out
  }
}
