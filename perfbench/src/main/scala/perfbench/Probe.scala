package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100] (numpy's default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Per-span counters: Spark jobs, tasks, shuffle and spill bytes (from
  * listener events) and Hadoop FileSystem calls (from
  * [[CountingLocalFileSystem]]). Work is attributed to the span named by
  * the `perfbench.span` local property of the thread that launched it,
  * so concurrent streaming queries keep their counts apart.
  */
final class Counts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val fsOps = new AtomicLong
  val filesCreated = new AtomicLong
}

object Spans {
  val Property = "perfbench.span"
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val current = new ThreadLocal[String]

  def of(key: String): Counts = counts.computeIfAbsent(key, _ => new Counts)

  /** The span key work on this thread is charged to: the thread's own
    * key on the driver, the launching thread's key inside a task. */
  def activeKey: String = {
    val tc = TaskContext.get()
    if (tc != null) tc.getLocalProperty(Property) else current.get()
  }

  /** Run `body` with its jobs and file-system calls charged to `key`. */
  def within[T](sc: SparkContext, key: String)(body: => T): T = {
    val prevThread = current.get()
    val prevProp = sc.getLocalProperty(Property)
    current.set(key)
    sc.setLocalProperty(Property, key)
    try body
    finally {
      current.set(prevThread)
      sc.setLocalProperty(Property, prevProp)
    }
  }
}

final class SpanListener extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private def keyOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Property)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(e.properties).foreach { k =>
      Spans.of(k).jobs.incrementAndGet()
      e.stageIds.foreach(stageKey.put(_, k))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val c = Spans.of(k)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** The local file system, counting each call made through Hadoop's
  * `FileSystem` API against the active span. Installed for traced runs
  * only (`spark.hadoop.fs.file.impl`). */
class CountingLocalFileSystem extends LocalFileSystem {
  private def op(): Unit = {
    val k = Spans.activeKey
    if (k != null) Spans.of(k).fsOps.incrementAndGet()
  }
  private def created(p: Path): Unit = {
    val k = Spans.activeKey
    if (k != null) {
      val c = Spans.of(k)
      c.fsOps.incrementAndGet()
      if (!p.getName.endsWith(".crc")) c.filesCreated.incrementAndGet()
    }
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    created(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def open(f: Path, bufferSize: Int) = { op(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { op(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { op(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    op(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { op(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    op(); super.delete(f, recursive)
  }
}

/** Process-wide figures read without any instrumentation. */
object Process {
  /** Bytes written through Hadoop's local `FileSystem` so far. */
  def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** A fixed CPU-only loop, timed in ms: a slowed machine shows here. */
  def boxProbeMs(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 60000000) { h = (h ^ (h >>> 29)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
    val t1 = System.nanoTime()
    if (h == 42L) System.err.println("probe") // keeps the loop live
    Stats.ms(t0, t1)
  }
}

/** In-memory span log of a traced run, written out when the run ends. */
final class SpanLog {
  private val rows = ArrayBuffer.empty[Map[String, Any]]
  def add(name: String, t0: Long, t1: Long, attrs: (String, Any)*): Unit =
    synchronized {
      rows += (Map[String, Any]("span" -> name, "start_ns" -> t0, "end_ns" -> t1,
        "ms" -> Stats.ms(t0, t1)) ++ attrs)
    }
  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try rows.foreach(r => w.println(Json(r))) finally w.close()
  }
}
