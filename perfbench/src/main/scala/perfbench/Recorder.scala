package perfbench

import scala.collection.mutable
import graft.storage.{ForwardingStore, ObjectInfo, StatInfo, Store}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Which part of the repository layout a store key belongs to. */
object KeyClass {
  val all: Seq[String] =
    Seq("pointer", "segment", "snapshot", "manifest", "txlog", "chunk", "other")
  def of(key: String): String =
    if (key.startsWith("repo/seg.")) "segment"
    else if (key.startsWith("repo/")) "pointer"
    else if (key.startsWith("snapshots/")) "snapshot"
    else if (key.startsWith("manifests/")) "manifest"
    else if (key.startsWith("transactions/")) "txlog"
    else if (key.startsWith("chunks/")) "chunk"
    else "other"
}

/** Everything the traced run learns about one op, filled from outside
  * the engine: the counting store, the Spark listeners, the span sink,
  * the chunk cache counters and /proc/self/io.
  */
final class OpRecord(val id: String, val kind: String,
                     val cycle: Int) {
  var startNs = 0L
  var endNs = 0L
  var ok = true
  val counters: mutable.Map[String, Double] =
    mutable.HashMap[String, Double]().withDefaultValue(0.0)
  /** (startNs, endNs, key class) of every driver store call. */
  val storeCalls = mutable.ArrayBuffer[(Long, Long, String)]()
  /** (startNs, endNs) of every Spark job the op launched. */
  val jobs = mutable.ArrayBuffer[(Long, Long)]()
  def add(name: String, v: Double): Unit = synchronized { counters(name) += v }
  def wallMs: Double = (endNs - startNs) / 1e6

  /** Splits the op's wall time exhaustively: an instant with a driver
    * store call in flight is store time (shared evenly among the key
    * classes in flight), else an instant with a Spark job running is
    * Spark time, else it is driver self time.
    */
  def breakdown: Map[String, Double] = {
    val ev = mutable.ArrayBuffer[(Long, Int, String)]()
    storeCalls.foreach { case (s, e, c) =>
      ev += ((math.max(s, startNs), 1, c)); ev += ((math.min(e, endNs), -1, c))
    }
    jobs.foreach { case (s, e) =>
      val a = math.max(s, startNs); val b = math.min(e, endNs)
      if (b > a) { ev += ((a, 1, "")); ev += ((b, -1, "")) }
    }
    val sorted = ev.sortBy(x => (x._1, x._2))
    val active = mutable.HashMap[String, Int]().withDefaultValue(0)
    val out = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    var t = startNs
    def charge(until: Long): Unit = if (until > t) {
      val d = (until - t) / 1e6
      val classes = active.collect { case (c, n) if n > 0 && c.nonEmpty => c }
      if (classes.nonEmpty) classes.foreach(c => out(s"store_ms.$c") += d / classes.size)
      else if (active("") > 0) out("spark_ms") += d
      else out("self_ms") += d
      t = until
    }
    sorted.foreach { case (at, delta, c) =>
      charge(math.min(math.max(at, startNs), endNs))
      active(c) += delta
    }
    charge(endNs)
    out.toMap
  }
}

/** Collects the per-op trace. `current` is the op the single-threaded
  * closed loop is running; `on` is false in untraced cycles.
  */
final class Recorder {
  @volatile var current: OpRecord = null
  /** The op whose result check is running: checks add counters they
    * derive from the result (pairs found, recall) with [[note]].
    */
  @volatile var checking: OpRecord = null
  @volatile var on = false
  // epoch ms (Spark listener timestamps) -> System.nanoTime domain
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def epochMsToNs(ms: Long): Long = ms * 1000000L + nsOffset

  private def rec: OpRecord = if (on) current else null
  def add(name: String, v: Double): Unit = { val r = rec; if (r != null) r.add(name, v) }
  def note(name: String, v: Double): Unit = {
    val r = if (checking != null) checking else rec
    if (on && r != null) r.add(name, v)
  }

  def storeCall(cls: String, t0: Long, t1: Long): Unit = {
    val r = rec
    if (r != null) r.synchronized { r.storeCalls += ((t0, t1, cls)) }
  }

  // ---- Spark: jobs, stages, tasks, planning -------------------------
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, OpRecord]()
  private val jobOwner = new java.util.concurrent.ConcurrentHashMap[Int, (OpRecord, Long)]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, OpRecord]()
  def register(r: OpRecord): Unit = byGroup.put(r.id, r)
  private def owner(props: java.util.Properties): OpRecord = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.flatMap(id => Option(byGroup.get(id))).getOrElse(rec)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val r = owner(e.properties)
      if (r != null && on) {
        r.add("spark.jobs", 1)
        jobOwner.put(e.jobId, (r, e.time))
        e.stageInfos.foreach(s => stageOwner.put(s.stageId, r))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOwner.remove(e.jobId)).foreach { case (r, t0) =>
        r.synchronized { r.jobs += ((epochMsToNs(t0), epochMsToNs(e.time))) }
        r.add("spark.job_wall_ms", (e.time - t0).toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach { r =>
        if (e.stageInfo.attemptNumber() == 0) r.add("spark.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { r =>
        r.add("spark.tasks", 1)
        if (e.reason != org.apache.spark.Success) r.add("spark.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          r.add("spark.executor_run_ms", m.executorRunTime.toDouble)
          r.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          r.add("spark.gc_ms", m.jvmGCTime.toDouble)
          r.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          r.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          r.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          r.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
  }

  // ---- spans: the benchmark's own and the engine's nested ones ------
  val sink: graft.core.Trace.Sink = new graft.core.Trace.Sink {
    override def record(s: graft.core.Trace.Span): Unit = {
      add(s"span.${s.name}_ms", s.durMicros / 1000.0)
      add(s"span.${s.name}_n", 1)
      s.attrs.get("partitions").flatMap(_.toDoubleOption)
        .foreach(add(s"span.${s.name}.partitions", _))
    }
  }
}

/** Counts the driver store's operations by kind and key class, and
  * records each call's interval. It forwards every call unchanged.
  */
final class CountingStore(protected val inner: Store, r: Recorder)
    extends ForwardingStore {
  private def timed[A](op: String, key: String)(f: => A)(bytes: A => Long): A = {
    val t0 = System.nanoTime()
    val out = f
    val t1 = System.nanoTime()
    if (r.on) {
      val c = KeyClass.of(key)
      r.storeCall(c, t0, t1)
      r.add(s"store.$op.$c", 1)
      val b = bytes(out)
      if (b > 0) r.add(s"store.${op}_bytes.$c", b.toDouble)
    }
    out
  }
  override def getBytes(key: String): Array[Byte] =
    timed("get", key)(inner.getBytes(key))(_.length.toLong)
  override def getRange(key: String, offset: Long, length: Long): Array[Byte] =
    timed("range_get", key)(inner.getRange(key, offset, length))(_.length.toLong)
  override def putBytes(key: String, bytes: Array[Byte]): Unit =
    timed("put", key)(inner.putBytes(key, bytes))(_ => bytes.length.toLong)
  override def putIfAbsent(key: String, bytes: Array[Byte]): Boolean = {
    val ok = timed("put", key)(inner.putIfAbsent(key, bytes))(_ => bytes.length.toLong)
    if (!ok) r.add("store.cas_lost", 1)
    ok
  }
  override def list(prefix: String): Seq[ObjectInfo] =
    timed("list", prefix)(inner.list(prefix))(_ => 0L)
  override def listPage(prefix: String, startAfter: Option[String],
                        maxKeys: Int): Seq[ObjectInfo] =
    timed("list", prefix)(inner.listPage(prefix, startAfter, maxKeys))(_ => 0L)
  override def listBounded(prefix: String, max: Int): (Seq[ObjectInfo], Boolean) =
    timed("list", prefix)(inner.listBounded(prefix, max))(_ => 0L)
  override def exists(key: String): Boolean =
    timed("stat", key)(inner.exists(key))(_ => 0L)
  override def stat(key: String): Option[StatInfo] =
    timed("stat", key)(inner.stat(key))(_ => 0L)
  override def delete(keys: Iterable[String]): Unit =
    timed("delete", keys.headOption.getOrElse(""))(inner.delete(keys))(_ => 0L)
  override def deletePrefix(prefix: String): Unit =
    timed("delete", prefix)(inner.deletePrefix(prefix))(_ => 0L)
  override def copy(srcKey: String, dstKey: String): Unit =
    timed("put", dstKey)(inner.copy(srcKey, dstKey))(_ => 0L)
}
