package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the span tree: run → workload → operation →
  * phase. Times are `System.nanoTime` readings of the client thread. */
final class Span(val id: Int, val parent: Int, val name: String) {
  @volatile var startNs: Long = System.nanoTime()
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Everything the Spark side reports about one operation: its jobs, the
  * task metrics of their stages and its streaming micro-batches. Filled
  * by the listeners, which run on the listener bus thread. */
final class OpStats {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { sums(k) += v }
}

/** In-memory tracer. Spans are recorded only when `enabled`; operations
  * are always timed by the workloads themselves, so an untraced run pays
  * for no more than a flag check per phase. */
object Trace {
  @volatile var enabled = false
  private val nextId = new AtomicInteger(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private var stack: List[Span] = Nil
  val ops = new ConcurrentHashMap[String, OpStats]()

  /** Name of the SparkContext local property that tags a job with the
    * operation that submitted it. Local properties are inherited by the
    * threads `ops.Par` starts, so concurrent publishes attach too. */
  val OpProperty = "perfbench.op"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId.incrementAndGet(), stack.headOption.fold(0)(_.id), name)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        all.add(s)
      }
    }

  def spans: Seq[Span] = all.asScala.toSeq.sortBy(_.id)

  def statsOf(op: String): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  /** Streaming batch id → operation, recorded inside `foreachBatch`. */
  val batchOp = new ConcurrentHashMap[Long, String]()

  /** Write the span tree as one JSON object per line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"dur_s":${s.seconds}%.6f}""")
    } finally w.close()
  }
}

/** Job, stage and concurrency accounting, attached to operations by the
  * [[Trace.OpProperty]] the submitting thread carried. */
final class JobListener extends SparkListener {
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()
  private val active = new AtomicInteger(0)
  val maxActive = new AtomicInteger(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.OpProperty))).getOrElse("")
    jobOp.put(e.jobId, (op, e.time))
    e.stageIds.foreach(stageOp.put(_, op))
    // concurrency of the timed operations and set-up only: the harness's
    // own warm-up, checks and calibration carry no tag
    if (op.nonEmpty) maxActive.accumulateAndGet(active.incrementAndGet(), math.max)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobOp.remove(e.jobId)).foreach { case (op, start) =>
      if (op.nonEmpty) active.decrementAndGet()
      val st = Trace.statsOf(op)
      st.synchronized { st.jobs += ((start, e.time)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val op = Option(stageOp.remove(info.stageId)).getOrElse("")
    val st = Trace.statsOf(op)
    st.add("spark.tasks", info.numTasks)
    if (info.numTasks == 1) st.add("spark.single_task_stages", 1)
    Option(info.taskMetrics).foreach { m =>
      st.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      st.add("spark.executor_run_s", m.executorRunTime / 1e3)
      st.add("spark.gc_s", m.jvmGCTime / 1e3)
      st.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      st.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      st.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      st.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      st.add("sink.rows", m.outputMetrics.recordsWritten.toDouble)
      st.add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Micro-batch durations of the ingest stream, attached to the
  * `stream_append` operation whose `foreachBatch` ran the batch. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(Trace.batchOp.get(p.batchId)).filter(_ => p.numInputRows > 0).foreach { op =>
      val st = Trace.statsOf(op)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      st.add("stream.batches", 1)
      st.add("stream.trigger_s", d.getOrElse("triggerExecution", 0.0))
      st.add("stream.add_batch_s", d.getOrElse("addBatch", 0.0))
      st.add("stream.planning_s", d.getOrElse("queryPlanning", 0.0))
      st.add("stream.wal_commit_s", d.getOrElse("walCommit", 0.0) +
        d.getOrElse("commitOffsets", 0.0))
    }
  }
}

/** Exact counts of file-system operations under one directory (the
  * persisted index roots), taken at the raw local file system so every
  * caller — driver bookkeeping and executor reads alike — is seen.
  * Checksum side files are not counted. */
object FsCounts {
  @volatile var root: String = "\u0000"
  val list, read, write, bytes = new AtomicLong(0)
  def tracked(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.startsWith(root) && !s.endsWith(".crc")
  }
  /** Run `body` without counting its operations; only for probes the
    * tracer itself makes while nothing else runs. */
  def uncounted[T](body: => T): T = {
    val counters = Seq(list, read, write, bytes)
    val before = counters.map(_.get)
    try body finally counters.zip(before).foreach { case (c, b) => c.set(b) }
  }
  def snapshot: Map[String, Double] = Map(
    "stage.fs_list_ops" -> list.get.toDouble,
    "stage.fs_read_ops" -> read.get.toDouble,
    "stage.fs_write_ops" -> write.get.toDouble,
    "stage.fs_bytes_written" -> bytes.get.toDouble)
}

final class CountingRawFs extends RawLocalFileSystem {
  private def n(p: Path, c: AtomicLong): Unit =
    if (FsCounts.tracked(p)) c.incrementAndGet()

  override def listStatus(f: Path) = { n(f, FsCounts.list); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int) = {
    n(f, FsCounts.read); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path) = { n(f, FsCounts.read); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path) = {
    n(src, FsCounts.write); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean) = {
    n(p, FsCounts.write); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission) = {
    n(p, FsCounts.write); super.mkdirs(p, permission)
  }
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    val raw = super.createOutputStreamWithMode(f, append, permission)
    if (!FsCounts.tracked(f)) raw
    else {
      FsCounts.write.incrementAndGet()
      new java.io.FilterOutputStream(raw) {
        override def write(b: Int): Unit = { raw.write(b); FsCounts.bytes.incrementAndGet() }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          raw.write(b, off, len); FsCounts.bytes.addAndGet(len)
        }
      }
    }
  }
}

/** The `file:` scheme with counting underneath; installed through
  * `spark.hadoop.fs.file.impl` in traced and untraced runs alike. */
final class CountingLocalFs extends LocalFileSystem(new CountingRawFs)
