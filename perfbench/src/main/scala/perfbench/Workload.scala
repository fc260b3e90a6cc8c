package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.storage.Store

/** What a workload needs from the run: the session, its seed, the closed
  * loop and (in a traced run) the recorder.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val runner: Runner,
                val rec: Recorder, val traced: Boolean, val cores: Int) {
  /** The driver's store for a repo directory; counted in a traced run. */
  def store(path: Path, delayMs: Long = 0L): Store = {
    val local: Store = Store.local(path.toString)
    val base = if (delayMs > 0) new graft.storage.LatencyStore(local, delayMs) else local
    if (traced) new CountingStore(base, rec) else base
  }
  /** A span around one call the benchmark makes into an engine layer. */
  def layer[A](name: String)(f: => A): A =
    graft.core.Trace.span(s"layer.$name")(_ => f)
  def op[A](kind: String, units: Double = 0)(work: => A)(
      check: A => Boolean): Unit = runner.op(kind, units)(work)(check)
  /** The seeded source of every input: cycle `cycle`'s keys, or the
    * set-up's data for cycle -1. Every draw folds into [[inputDigest]].
    */
  def rng(cycle: Int): scala.util.Random =
    new DigestRandom(seed * 1000003L + cycle * 7919L + 17L, this, cycle)
  /** Per cycle, a digest of every draw made from [[rng]]. */
  val inputDigests = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
}

/** A Random whose draws are folded into its cycle's input digest, so two
  * runs can show they drew the same inputs (same seed) or not.
  */
final class DigestRandom(s: Long, ctx: Ctx, cycle: Int) extends scala.util.Random(s) {
  private def fold(v: Long): Unit =
    ctx.inputDigests.merge(cycle, v, (a, b) => a * 1000003L + b)
  override def nextInt(n: Int): Int = { val v = super.nextInt(n); fold(v); v }
  override def nextDouble(): Double = {
    val v = super.nextDouble(); fold(java.lang.Double.doubleToLongBits(v)); v
  }
  override def nextGaussian(): Double = {
    val v = super.nextGaussian(); fold(java.lang.Double.doubleToLongBits(v)); v
  }
}

/** One benchmark workload: a seeded input, a repo built from it, and a
  * fixed cycle of ops the closed loop repeats until time is up.
  */
trait Workload {
  /** Builds the inputs and the repo in a fresh directory `dir`. */
  def build(ctx: Ctx, dir: Path): Unit
  /** Op kind whose latency is the run's `read_p50_ms`. */
  def readKind: String
  /** Op kinds that make up `batch_p50_ms`, each with how many times one
    * cycle runs it (1/2 for a kind run every other cycle). Every other
    * op kind is run, checked and traced, but not part of a bounded metric.
    */
  def batch: Map[String, Double]
  /** Runs cycle `k` of the closed loop; cycle 0 is the untimed warm-up.
    * Returns false when time ran out before the cycle finished.
    */
  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean
  /** Ops a traced run makes once after its loop, for their per-layer
    * numbers; they are checked but in no end-to-end metric.
    */
  def extras(ctx: Ctx): Unit = ()
  /** Sizes and settings recorded beside the metrics. */
  def shape: Map[String, Any]
  /** Workload-level per-layer numbers known only at the end. */
  def finish(ctx: Ctx): Map[String, Double] = Map.empty
  /** The single workloads this one is made of. */
  def parts: Seq[Workload] = Seq(this)
  /** Cycles a traced run traces in a row, then leaves untraced: 2 where
    * two passes alternate, so both show on both sides.
    */
  def period: Int = 1
}

/** Two workloads run as one, each in its own directory: each cycle runs
  * a cycle of each, and the second one's reads join the batch.
  * `measured` is how many cycles the end-to-end metrics are taken from:
  * the loop runs at least that many, and cycles past it are run and
  * checked but not priced, so a run that fits one cycle more than
  * another still prices the same ops.
  */
final class Both(first: Workload, second: Workload, secondReads: Double,
                 val measured: Int) extends Workload {
  def build(ctx: Ctx, dir: Path): Unit = {
    first.build(ctx, dir.resolve("a"))
    second.build(ctx, dir.resolve("b"))
  }
  def readKind: String = first.readKind
  def batch: Map[String, Double] = first.batch ++ second.batch + (second.readKind -> secondReads)
  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean =
    first.cycle(ctx, k, deadlineNs) && second.cycle(ctx, k, deadlineNs)
  override def extras(ctx: Ctx): Unit = { first.extras(ctx); second.extras(ctx) }
  def shape: Map[String, Any] = first.shape ++ second.shape
  override def finish(ctx: Ctx): Map[String, Double] = first.finish(ctx) ++ second.finish(ctx)
  override def parts: Seq[Workload] = first.parts ++ second.parts
  override def period: Int = math.max(first.period, second.period)
}

object Workload {
  val all: Map[String, () => Both] = Map(
    "vc_remote" -> { () =>
      val v = new VcRefs
      new Both(new RemoteServing, v, v.reads, measured = 2)
    },
    // four cycles: two dedup and two ANN passes
    "tensor_pipeline" -> { () =>
      val p = new PipelineDedupAnn
      new Both(new TensorValues, p, p.queries, measured = 4)
    })
}
