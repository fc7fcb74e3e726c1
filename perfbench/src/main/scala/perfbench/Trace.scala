package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark totals for one job group: what the listener saw while the
  * group's jobs ran. `busyMs` is the wall time with at least one of the
  * group's jobs running.
  */
final class Acc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var written = 0L
  var running = 0
  var maxRunning = 0
  var busyMs = 0L
  private var busySince = 0L

  def jobStart(t: Long): Unit = {
    jobs += 1
    running += 1
    maxRunning = math.max(maxRunning, running)
    if (running == 1) busySince = t
  }
  def jobEnd(t: Long): Unit = {
    running -= 1
    if (running == 0) busyMs += t - busySince
  }
  def taskS: Double = taskNs / 1e9
  def add(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; written += o.written; busyMs += o.busyMs
    maxRunning = math.max(maxRunning, o.maxRunning)
  }
}

/** The job ledger: sums jobs, stages, tasks, task time, shuffle bytes
  * and spill per job group. A streaming query runs its jobs under its
  * run id as group; those are keyed per micro-batch as
  * `<group>#<batchId>`.
  */
final class Ledger extends SparkListener {
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "" else {
      val g = Option(p.getProperty("spark.jobGroup.id")).getOrElse("")
      Option(p.getProperty("streaming.sql.batchId")).fold(g)(b => s"$g#$b")
    }
  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    jobKey.put(e.jobId, k)
    acc(k).jobStart(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobKey.remove(e.jobId)).foreach(k => acc(k).jobEnd(e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val k = keyOf(e.properties)
    stageKey.put(e.stageInfo.stageId, k)
    acc(k).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(Option(stageKey.get(e.stageId)).getOrElse(""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskNs += m.executorRunTime * 1000000L
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
    }
  }

  /** Totals of one job group (an empty [[Acc]] if it ran no job). */
  def get(key: String): Acc = synchronized {
    val out = new Acc
    Option(accs.get(key)).foreach(out.add)
    out
  }

  /** The totals of each job group whose name starts with `prefix`. */
  def withPrefix(prefix: String): Seq[Acc] = synchronized {
    accs.asScala.collect { case (k, a) if k.startsWith(prefix) => a }.toSeq
  }

  /** Per-micro-batch totals of a streaming group, by batch id. */
  def batches(group: String): Map[Long, Acc] = synchronized {
    accs.asScala.collect {
      case (k, a) if k.startsWith(group + "#") =>
        k.substring(group.length + 1).toLong -> a
    }.toMap
  }
}

/** Every streaming progress report, in arrival order. */
final class Progress extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into each layer, recorded from the benchmark's
  * side only. With tracing off, [[span]] just runs its body. With it on,
  * each span runs under its own job group, so the [[Ledger]] attributes
  * the span's Spark work to it; spans are kept in memory and written as
  * JSON lines at the end of the run.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  val ledger: Option[Ledger] =
    if (enabled) { val l = new Ledger; sc.addSparkListener(l); Some(l) } else None
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def group(id: Long): String = s"pb-$runId-$id"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent))
        stack.set(stack.get.tail)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
        sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def settle(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def named(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.startNs)

  /** Ledger totals of every span called `name`. */
  def totals(name: String): Acc = {
    val out = new Acc
    ledger.foreach(l => named(name).foreach(s => out.add(l.get(group(s.id)))))
    out
  }

  /** Wall seconds of the spans called `name` with no job of theirs
    * running: the driver's own share of the call.
    */
  def driverS(name: String): Double = ledger.fold(0.0) { l =>
    named(name).map(s => math.max(0.0, s.wallS - l.get(group(s.id)).busyMs / 1000.0)).sum
  }

  def wallS(name: String): Double = named(name).map(_.wallS).sum

  /** Write every span as one JSON line, with its ledger totals. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    settle()
    val t0 = spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val a = ledger.get.get(group(s.id))
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
        s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""task_s":${a.taskS},"shuffle_read_b":${a.shuffleRead},""" +
        s""""shuffle_write_b":${a.shuffleWrite},"spill_b":${a.spill}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }

  def close(): Unit = ledger.foreach(sc.removeSparkListener)
}

/** JVM-wide facts: collector time and the live heap. */
object Jvm {
  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala

  /** (collections, seconds) so far. */
  def gc(): (Long, Double) =
    (gcBeans.map(_.getCollectionCount).sum, gcBeans.map(_.getCollectionTime).sum / 1000.0)

  /** Old-generation usage right after a full collection, in MB: the
    * live set at this point of the run.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old") && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed / 1048576.0).maxOption.getOrElse(0.0)
  }
}
