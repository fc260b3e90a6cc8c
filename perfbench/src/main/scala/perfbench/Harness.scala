package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.SparkBus

/** Minimal JSON writer for the result lines (maps keep insertion order). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  /** The middle value; for an even sample, the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = s.size / 2
      if (s.size % 2 == 1) s(h) else (s(h - 1) + s(h)) / 2
    }
}

/** One timed op as the closed loop saw it. */
final case class OpResult(kind: String, cycle: Int, ms: Double,
                          units: Double, traced: Boolean, ok: Boolean)

/** The closed loop: one op at a time, each timed alone, each result
  * checked after its timer stops. In a traced run every other cycle is
  * traced, so the untraced cycles of the same run give the overhead.
  */
final class Runner(spark: SparkSession, val rec: Recorder, traceRun: Boolean) {
  val results = mutable.ArrayBuffer[OpResult]()
  val failures = mutable.LinkedHashMap[String, Int]()
  val records = mutable.ArrayBuffer[OpRecord]()
  private var seq = 0L
  var cycle = 0
  var warm = false
  private val sc = spark.sparkContext

  /** Run `work` as one op of `kind`; `check` runs untimed on its value
    * and throws (or returns false) on a wrong result. `units` is the
    * op's work in the unit its throughput is quoted in.
    */
  def op[A](kind: String, units: Double = 0)(work: => A)(
      check: A => Boolean): Unit = {
    seq += 1
    val tracedNow = traceRun && rec.on
    val id = s"op-$seq"
    val r = new OpRecord(id, kind, cycle)
    if (tracedNow) { rec.register(r); rec.current = r }
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val h0 = graft.storage.ChunkCache.hits
    val m0 = graft.storage.ChunkCache.misses
    val io0 = if (tracedNow) ProcIo.read() else Map.empty[String, Long]
    val gc0 = if (tracedNow) Jvm.gcMs() else 0L
    var ok = true
    var value: Option[A] = None
    r.startNs = System.nanoTime()
    try {
      value = Some(
        if (tracedNow) graft.core.Trace.span(s"op.$kind", "op_id" -> id)(_ => work)
        else work)
    } catch {
      case e: Throwable =>
        ok = false
        System.err.println(s"[perfbench] $kind failed: $e")
    }
    r.endNs = System.nanoTime()
    sc.clearJobGroup()
    if (tracedNow) {
      SparkBus.drain(sc)
      rec.current = null
      r.add("cache.hits", (graft.storage.ChunkCache.hits - h0).toDouble)
      r.add("cache.misses", (graft.storage.ChunkCache.misses - m0).toDouble)
      val io1 = ProcIo.read()
      io1.foreach { case (k, v) => r.add(s"proc.$k", (v - io0.getOrElse(k, 0L)).toDouble) }
      r.add("jvm.gc_ms", (Jvm.gcMs() - gc0).toDouble)
    }
    if (tracedNow) rec.checking = r
    if (ok) {
      ok = try check(value.get) catch {
        case e: Throwable => System.err.println(s"[perfbench] $kind check threw: $e"); false
      }
      if (!ok) System.err.println(s"[perfbench] $kind returned a wrong result")
    }
    rec.checking = null
    r.ok = ok
    System.err.println(f"[perfbench] ${if (warm) "warm-up " else ""}op $kind cycle $cycle ${r.wallMs}%.1f ms${if (ok) "" else " FAILED"}")
    if (!warm) {
      results += OpResult(kind, cycle, r.wallMs, units, tracedNow, ok)
      if (tracedNow) records += r
      if (!ok) failures(kind) = failures.getOrElse(kind, 0) + 1
    } else if (!ok) throw new IllegalStateException(s"warm-up op $kind failed")
  }
}

object Jvm {
  /** Collection time of every garbage collector so far. */
  def gcMs(): Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }
}

/** Block-device and syscall byte counters of this process. */
object ProcIo {
  def read(): Map[String, Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().flatMap { l =>
        l.split(":\\s*") match {
          case Array(k, v) if Set("read_bytes", "write_bytes", "rchar", "wchar")(k) =>
            v.trim.toLongOption.map(k -> _)
          case _ => None
        }
      }.toMap finally src.close()
    } catch { case _: Throwable => Map.empty }
}

/** CPU time the hypervisor gave to other guests (steal), from /proc/stat:
  * returns (steal ticks, all ticks) so far.
  */
object Steal {
  def read(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }
}

/** Fixed-work probe of the box (CPU, allocation, file IO), modelled on
  * the engine bench's calibration probe but lighter. Timed at the start
  * and the end of each run; the ratio shows in-process slowdown.
  */
object Probe {
  def sample(tmp: java.nio.file.Path): Double = {
    val t0 = System.nanoTime()
    var h = 0xcbf29ce484222325L
    var i = 0L
    while (i < (1L << 24)) { h ^= i; h *= 0x100000001b3L; i += 1 }
    var acc = h
    var a = 0
    while (a < 4) {
      val buf = new Array[Byte](16 << 20)
      var j = 0
      while (j < buf.length) { buf(j) = (acc + j).toByte; j += 4096 }
      acc += buf(buf.length - 1)
      a += 1
    }
    val f = tmp.resolve(s"probe-${java.util.UUID.randomUUID()}.bin")
    val block = new Array[Byte](4 << 20)
    java.util.Arrays.fill(block, 0x5a.toByte)
    val out = java.nio.file.Files.newOutputStream(f)
    try { var k = 0; while (k < 8) { out.write(block); k += 1 } } finally out.close()
    val in = java.nio.file.Files.newInputStream(f)
    try {
      var n = in.read(block)
      while (n >= 0) { acc += block(0); n = in.read(block) }
    } finally { in.close(); java.nio.file.Files.delete(f) }
    if (acc == 0x6b617270L) System.err.println("[perfbench] probe sentinel")
    (System.nanoTime() - t0) / 1e9
  }
}
