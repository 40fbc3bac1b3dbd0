package graft.sources

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** The one serial-vs-distributed policy for driver-side filesystem
  * METADATA loops — every verb with an O(files) metadata loop (the
  * txn log's length/mtime probes and deletes, write-time footer
  * reads, FSCK, the bloom probe's cold sources, COPY INTO's source
  * walk) routes through it: a handful of ops run serially on the
  * driver (cheap on every store), the remainder is projected from the
  * measured ms/op, and past the projected-wall crossover or the hard
  * serial cap the rest fans out as ONE Spark job. On a local FS an op
  * is ~0.1 ms and the serial path always wins; on an object store at
  * 10–50 ms per metadata round-trip, 100k files would cost the driver
  * ~an hour — the distributed path turns that into one short, wide
  * job. The policy takes no configuration: both thresholds are
  * constants, and the per-site keys earlier versions read are
  * rejected by name ([[RetiredKeys]]). */
private[graft] object MetaFanout {

  /** Hard serial cap: more ops than this never run on the driver. */
  val MaxSerialOps = 100000
  /** Projected serial wall (ms) past which the one-job launch
    * overhead pays for itself. */
  val CrossoverMs = 250.0
  /** Ops measured serially before the projection may route anything. */
  private val SampleOps = 8

  /** Per-site fan-out keys of earlier versions. Setting one now fails
    * loudly rather than silently doing nothing. */
  val RetiredKeys: Seq[String] = Seq(
    "spark.graft.txn.probe.localOps", "spark.graft.txn.probe.crossoverMs",
    "spark.graft.stats.footer.localOps", "spark.graft.stats.footer.crossoverMs",
    "spark.graft.bloom.footer.localOps", "spark.graft.bloom.footer.crossoverMs",
    "spark.graft.fsck.probe.localOps", "spark.graft.fsck.probe.crossoverMs",
    "spark.graft.copy.list.localOps", "spark.graft.copy.list.crossoverMs",
    "spark.graft.bloom.probe.localOpens", "spark.graft.bloom.probe.crossoverMs")

  /** Fails naming the first retired fan-out key set on `spark`. */
  private[graft] def rejectRetired(spark: SparkSession): Unit =
    RetiredKeys.find(spark.conf.getOption(_).isDefined).foreach { k =>
      throw new IllegalArgumentException(s"$k was retired: the metadata " +
        s"fan-out takes no configuration (serial cap $MaxSerialOps ops, " +
        s"crossover ${CrossoverMs.toLong} ms projected); unset it")
    }

  /** Hadoop `Configuration` is not `java.io.Serializable`; this is
    * the standard Writable-over-ObjectStream wrapper (the same
    * pattern Spark uses internally) so distributed tasks can rebuild
    * a correctly-credentialed FileSystem on executors. */
  final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** TEST-ONLY injected latency per metadata op (ms) — models
    * object-store round-trips (10–50 ms per GET/LIST) on a local
    * filesystem, so specs and benches can drive the measured route.
    * A static volatile (not a conf) so local-mode executor tasks see
    * it too; always 0 outside tests and benches. */
  @volatile private[graft] var testOpDelayMs: Long = 0L
  private[graft] def simulatedLatency(): Unit =
    if (testOpDelayMs > 0L) Thread.sleep(testOpDelayMs)

  /** TEST-ONLY route pin: `Some(true)` sends every op to the
    * distributed leg, `Some(false)` keeps every op on the driver,
    * `None` (always, outside tests and benches) lets the measurement
    * decide. Static like [[testOpDelayMs]], never a conf. */
  @volatile private[graft] var testDistribute: Option[Boolean] = None

  /** The decision itself: after `done` serial ops that took `spentMs`,
    * should the `remaining` ones go out as one Spark job? The
    * projection decides once [[SampleOps]] ops are measured; the hard
    * cap applies from the first op. */
  private[graft] def distributeRest(done: Int, spentMs: Double,
      remaining: Int): Boolean =
    testDistribute.getOrElse(done + remaining > MaxSerialOps ||
      (done >= SampleOps && spentMs / done * remaining > CrossoverMs))

  /** Run `op` over `items`: serially on the driver while the measured
    * projection says that is cheap, as ONE Spark job otherwise. On a
    * local FS at ~0.05 ms/op thousands of items rightly stay serial;
    * on an object store at 10–50 ms/op a few hundred rightly fan out.
    * The projection is re-measured every 64 ops DURING the serial
    * leg, so a sample answered from a warm metadata cache only
    * mis-commits the driver to one chunk, not the whole loop. `op`
    * must be pure and idempotent (Spark may retry tasks) and rebuild
    * filesystem handles from the passed Configuration
    * (`FileSystem.get` caches per scheme, so per-item lookups are
    * cheap); each call pays [[testOpDelayMs]] first. Output preserves
    * item order (parallelize+collect returns partitions in order). */
  def adaptiveMap[T: ClassTag, R: ClassTag](spark: SparkSession,
      items: Seq[T])(op: (Configuration, T) => Iterable[R]): Seq[R] = {
    rejectRetired(spark)
    val delayedOp = (conf: Configuration, x: T) => { simulatedLatency(); op(conf, x) }
    val hconf = spark.sparkContext.hadoopConfiguration
    val xs = items.toIndexedSeq
    val out = Seq.newBuilder[R]
    var done = 0
    var spentMs = 0.0
    while (done < xs.size) {
      val remaining = xs.size - done
      if (distributeRest(done, spentMs, remaining)) {
        out ++= distribute(spark, xs.drop(done))(delayedOp)
        done = xs.size
      } else {
        val chunk = math.min(if (done == 0) SampleOps else 64, remaining)
        val t0 = System.nanoTime()
        xs.slice(done, done + chunk).foreach(x => out ++= delayedOp(hconf, x))
        spentMs += (System.nanoTime() - t0) / 1e6
        done += chunk
      }
    }
    out.result()
  }

  /** The distributed leg: one Spark job, ≤ 2× defaultParallelism
    * tasks, results collected to the driver (callers pass metadata
    * items — verdicts, paths — never data rows, so the collect is
    * bounded by the item count that was already driver-resident). */
  def distribute[T: ClassTag, R: ClassTag](spark: SparkSession,
      items: Seq[T])(op: (Configuration, T) => Iterable[R]): Seq[R] = {
    if (items.isEmpty) return Nil
    val sc = spark.sparkContext
    val confB = sc.broadcast(new SerConf(sc.hadoopConfiguration))
    val tasks = math.min(items.size, math.max(1, sc.defaultParallelism * 2))
    sc.parallelize(items, tasks)
      .flatMap(x => op(confB.value.value, x))
      .collect().toSeq
  }
}
