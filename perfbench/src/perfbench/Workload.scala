package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What a run hands every workload. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int)

/** The outcome of one measured pass: operations attempted and failed, the
  * pass's busy time, per-operation samples, and each operation's output,
  * kept for [[Workload.verify]].
  */
final class Pass(val out: String, val trace: Trace) {
  var ops = 0
  var failed = 0
  var error: Option[Throwable] = None
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  /** One output per completed operation, in order. */
  val outputs = mutable.ArrayBuffer.empty[AnyRef]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def all(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq
  def sum(name: String): Double = all(name).sum
  def med(name: String): Double =
    if (all(name).isEmpty) 0.0 else Stats.median(all(name))
  /** Throughput is work over the whole pass, so it takes the mean. */
  def mean(name: String): Double =
    if (all(name).isEmpty) 0.0 else sum(name) / all(name).size
  /** Busy time of the pass: the operations, not the calibrations. */
  def busyS: Double = sum("op_s")
}

/** One named, seeded workload. The inputs are generated once and copied
  * into one directory per set-up repetition; a workload whose operations
  * mutate their input uses a different repetition for each pass.
  */
trait Workload {
  def name: String

  /** Generate the inputs from the seed into `dir`. */
  def generate(ctx: Ctx, dir: String): Unit

  /** The program's own set-up on the inputs in `dir` (a base publish);
    * nothing for a workload that has none.
    */
  def prepare(ctx: Ctx, dir: String): Unit = ()

  /** Content hash of everything `generate` wrote. */
  def inputHash(ctx: Ctx, dir: String): String

  /** Untimed operations so the timed window starts warm; the first
    * operations in a JVM run well below steady speed.
    */
  def warmup(ctx: Ctx, dir: String, pass: Pass): Unit

  /** The operations a window of `seconds` holds. The count is fixed per
    * workload, not read off a clock, so every run — and both commits of a
    * comparison — does the same work at the same point of JIT warm-up.
    */
  def opsFor(seconds: Double): Int

  /** Operation `i` (from 1): records its timings in `pass` and appends its
    * output to `pass.outputs`.
    */
  def op(ctx: Ctx, dir: String, pass: Pass, i: Int): Unit

  /** What is wrong with each completed operation's output, one entry per
    * operation in order; an empty entry is a correct operation.
    */
  def verify(ctx: Ctx, dir: String, pass: Pass): Seq[Seq[String]]

  /** The end-to-end metrics of an untraced pass, with every measured time
    * multiplied by `scale` (see [[Calibration]]).
    */
  def endToEnd(pass: Pass, scale: Double): Map[String, Double]

  /** The per-layer metrics of a traced pass. */
  def layers(pass: Pass): Map[String, Double]

  /** Layers that get a single-thread baseline in the traced run. */
  def scalingLayers: Seq[String] = Nil

  /** Which set-up repetition pass `p` (0 = warm-up, 1 = untraced,
    * 2 = traced, 3 = single-thread) reads.
    */
  def repFor(p: Int): Int = 0
}

object Files {
  import java.nio.file.{Files => JF, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** Every regular file under `dir` with its size. */
  def walk(dir: String): Seq[(String, Long)] = {
    val p = Paths.get(dir)
    if (!JF.exists(p)) Nil
    else {
      val s = JF.walk(p)
      try s.iterator().asScala.filter(JF.isRegularFile(_))
        .map(f => f.toString -> JF.size(f)).toList
      finally s.close()
    }
  }

  def dataFiles(dir: String, ext: String): Seq[(String, Long)] =
    walk(dir).filter { case (f, _) =>
      val n = Paths.get(f).getFileName.toString
      n.endsWith(ext) && !n.startsWith(".") && !n.startsWith("_")
    }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = JF.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (JF.isDirectory(p)) JF.createDirectories(t) else JF.copy(p, t)
    } finally s.close()
  }

  def delete(dir: String): Unit = {
    val p: Path = Paths.get(dir)
    if (JF.exists(p)) {
      val s = JF.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(JF.deleteIfExists(_))
      finally s.close()
    }
  }
}

/** Timing helper. */
object Clock {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
