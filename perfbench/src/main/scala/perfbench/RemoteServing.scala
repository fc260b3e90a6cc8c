package perfbench

import java.nio.file.Path
import graft.repo._
import graft.zarr.ZarrStore

/** The zarr key surface over an object-store round trip: the repo is
  * built at zero latency, then served behind a fixed injected delay per
  * store op. Reads are `getPartialValues` batches (half Zipf over every
  * chunk, half the newest time steps); each cycle also appends a time
  * step through `ZarrStore.set`, opens the repo cold and lists it.
  *
  * Chunk (array a, step t) holds bytes drawn from a Random seeded by
  * (a, t), so every read checks against a regenerated copy.
  */
final class RemoteServing extends Workload {
  val arrays = Seq("t2m", "u10", "v10", "msl")
  val steps = 256           // time steps per array at set-up
  val lat = 64
  val lon = 128
  val chunkBytes = lat * lon * 8 // 64 KiB, one step per chunk
  val delayMs = 10L         // injected per store op, driver and executors
  val keysPerRead = 8       // keys per getPartialValues
  val reads = 50            // batches per cycle
  val recent = 8            // newest steps the recency half draws from
  val zipfS = 1.1

  private var store: graft.storage.Store = null
  private var repo: Repository = null
  private var reader: ZarrStore = null
  private var n = 0
  private var zipfCdf: Array[Double] = Array.empty
  private var perm: Array[Int] = Array.empty

  def shape: Map[String, Any] = Map("arrays" -> arrays.size, "steps" -> steps,
    "chunk_bytes" -> chunkBytes, "data_mb" -> arrays.size * steps * chunkBytes / (1 << 20),
    "delay_ms" -> delayMs, "keys_per_read" -> keysPerRead, "reads_per_cycle" -> reads,
    "zipf_s" -> zipfS, "recent_steps" -> recent,
    "chunk_cache_bytes" -> java.lang.Long.getLong("graft.chunkCache.bytes", 256L << 20))

  def readKind = "zarr_get"
  def batch = Map("append" -> 1.0, "open" -> 1.0, "list" -> 1.0)
  /** Every op kind this workload runs, all of them behind the delay. */
  def kinds: Set[String] = batch.keySet + readKind

  private def payload(a: Int, t: Int): Array[Byte] = {
    val b = new Array[Byte](chunkBytes)
    new scala.util.Random(a * 1000003L + t).nextBytes(b)
    b
  }
  private def meta(t: Int): String =
    s"""{"zarr_format":3,"node_type":"array","shape":[$t,$lat,$lon],""" +
      s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[1,$lat,$lon]}},""" +
      s""""data_type":"float64","dimension_names":["time","lat","lon"]}"""
  private def key(a: Int, t: Int) = s"${arrays(a)}/c/$t/0/0"

  def build(ctx: Ctx, d: Path): Unit = {
    val r0 = Repository.create(graft.storage.Store.local(d.toString), ctx.spark, GraftConfig())
    val z = new ZarrStore(r0.writableSession("main"))
    z.set("zarr.json", """{"zarr_format":3,"node_type":"group"}""".getBytes)
    arrays.indices.foreach { a =>
      z.set(s"${arrays(a)}/zarr.json", meta(steps).getBytes)
      (0 until steps).foreach(t => z.set(key(a, t), payload(a, t)))
    }
    z.session.commit("era5-like")
    n = steps
    // reopen behind the injected delay; executors get it through the conf
    store = ctx.store(d, delayMs)
    repo = Repository.open(store, ctx.spark)
    reader = new ZarrStore(repo.readonlySession(VersionRef.Branch("main")))
    val rng = ctx.rng(-1)
    val total = arrays.size * steps
    perm = rng.shuffle((0 until total).toVector).toArray
    val w = (1 to total).map(r => 1.0 / math.pow(r, zipfS))
    val s = w.sum
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }

  private def zipfKey(rng: scala.util.Random): (Int, Int) = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(zipfCdf, u)
    if (i < 0) i = -i - 1
    val c = perm(math.min(i, perm.length - 1))
    (c % arrays.size, c / arrays.size)
  }

  def cycle(ctx: Ctx, k: Int, deadlineNs: Long): Boolean = {
    val rng = ctx.rng(k)
    def late = System.nanoTime() > deadlineNs

    for (i <- 0 until (if (k == 0) 2 else reads)) {
      val keys = Seq.fill(keysPerRead) {
        if (i % 2 == 0) zipfKey(rng)
        else (rng.nextInt(arrays.size), n - 1 - rng.nextInt(recent))
      }
      ctx.op("zarr_get", units = keysPerRead.toDouble) {
        ctx.layer("zarr.get")(reader.getPartialValues(keys.map(x => (key(x._1, x._2), None)), ctx.cores))
      } { got =>
        got.zip(keys).forall { case (b, (a, t)) => b.exists(_.sameElements(payload(a, t))) }
      }
      if (late) return false
    }

    // append one time step to every array through the zarr surface
    ctx.op("append") {
      val z = new ZarrStore(repo.writableSession("main"))
      ctx.layer("zarr.set") {
        arrays.indices.foreach { a =>
          z.set(s"${arrays(a)}/zarr.json", meta(n + 1).getBytes)
          z.set(key(a, n), payload(a, n))
        }
      }
      z.session.commit(s"append step $n")
    } { _ =>
      n += 1
      reader = new ZarrStore(repo.readonlySession(VersionRef.Branch("main")))
      reader.get(key(0, n - 1)).exists(_.sameElements(payload(0, n - 1)))
    }
    if (late) return false

    // a cold open to the first chunk byte
    val (oa, ot) = (rng.nextInt(arrays.size), rng.nextInt(n))
    ctx.op("open") {
      val r = ctx.layer("repo.open")(Repository.open(store, ctx.spark))
      val z = new ZarrStore(r.readonlySession(VersionRef.Branch("main")))
      ctx.layer("zarr.get")(z.get(s"${arrays(oa)}/zarr.json"))
      ctx.layer("zarr.get")(z.get(key(oa, ot)))
    } { b => b.exists(_.sameElements(payload(oa, ot))) }
    if (late) return false

    // listing and sizes over the key surface
    val la = rng.nextInt(arrays.size)
    ctx.op("list") {
      val dirs = ctx.layer("zarr.list")(reader.listDir(""))
      val size = ctx.layer("zarr.getsize")(reader.getSizePrefix(arrays(la)))
      (dirs, size)
    } { case (dirs, size) =>
      dirs.toSet == arrays.toSet + "zarr.json" && size >= n.toLong * chunkBytes
    }
    !late
  }
}
