package perfbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one `EngineSession.local(nproc)` session, one
  * caller. Each workload warms up, sets up its inputs (several times,
  * reporting the median), then runs a number of timed units fixed by
  * `--seconds` in a closed loop — the next operation starts only after the
  * previous one returns — checks every output, and prints one JSON line.
  *
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --root <scratch dir> --out <record dir>`
  *
  * `--root` holds every file the run writes (inputs, targets, Spark's local
  * and temporary files); the caller deletes it afterwards. `--out` receives
  * the run record and, with `--trace 1`, the trace as JSON lines. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: String, out: String, commit: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), m.getOrElse("out", need("root")),
      m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val loadPre = Stamp.loadAvg()
    val w = Workloads.byName.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; known: " +
        Workloads.byName.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val ctx = new Ctx(args)
    val once0 = System.nanoTime()
    val spark = graft.io.EngineSession.local(ctx.cores, "ERROR")
    ctx.spark = spark
    if (args.trace) ctx.trace = Some(new Trace(spark.sparkContext))
    w.warmup(ctx)
    val warmS = (System.nanoTime() - once0) / 1e9
    val preps = (0 until w.setups).map { i =>
      val t0 = System.nanoTime()
      w.prepare(ctx, i)
      (System.nanoTime() - t0) / 1e9
    }
    val ready0 = System.nanoTime()
    w.ready(ctx)
    val onceS = warmS + (System.nanoTime() - ready0) / 1e9
    val setupS = onceS + Stats.median(preps)
    val cpu0 = Stamp.hostCpu()
    (0 until w.units(args.seconds)).foreach(ctx.runUnit(w, _))
    ctx.stealPct = Stamp.stealPct(cpu0, Stamp.hostCpu())
    w.finish(ctx)
    val loadPost = Stamp.loadAvg()
    Report.emit(ctx, w, setupS, preps, onceS, loadPre, loadPost)
    spark.stop()
  }
}

/** State of one run: the session, the tracer, and every operation's
  * outcome. */
final class Ctx(val args: Main.Args) {
  var spark: SparkSession = _
  var trace: Option[Trace] = None
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val root: String = new File(args.root).getAbsolutePath
  val seed: Long = args.seed

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall and CPU seconds of each successful untraced timed unit. */
  val unitWall = mutable.ArrayBuffer.empty[Double]
  val unitCpu = mutable.ArrayBuffer.empty[Double]
  /** Seconds of each successful timed part, by part name. */
  val parts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Bytes created and documents touched by the timed units' parts: a
    * run's unit count and every unit's inputs depend only on the seed and
    * `--seconds`, so the ratio repeats. */
  var bytesCreated = 0L
  var docsTouched = 0L
  private var inUnit = false
  /** Per-layer totals over the traced units, and their walls. */
  val layers = mutable.LinkedHashMap.empty[String, Trace.Layer]
  val tracedWall = mutable.ArrayBuffer.empty[Double]
  /** Traced wall of the end-of-run parts ([[tracedFinish]]). */
  var finishWallMs = 0L
  /** Traced units' operation time without the traced-only spans. */
  val tracedOp = mutable.ArrayBuffer.empty[Double]
  /** Counter values of the first traced unit (deterministic per seed). */
  var firstLayers: Map[String, Trace.Layer] = Map.empty
  val counts = mutable.LinkedHashMap.empty[String, Long]
  val fixture = mutable.LinkedHashMap.empty[String, Long]
  /** Share of the host's CPU time stolen by the hypervisor during the
    * timed units: a noisy neighbour shows here. */
  var stealPct = Double.NaN
  /** Largest deviation between a traced unit's wall and its layers' sum. */
  var traceSumErrMs = 0L

  private var unitOk = true
  private var unitWallNs = 0L
  private var unitCpuNs = 0L
  private var unitExtraNs = 0L

  def path(name: String): String = s"$root/data/$name"

  /** One timed unit: its parts are timed, everything else in `w.unit`
    * (input generation, output checks, cleanup) is not. In a traced run
    * every unit is traced. */
  def runUnit(w: Workload, i: Int): Unit = {
    unitOk = true; unitWallNs = 0L; unitCpuNs = 0L; unitExtraNs = 0L
    inUnit = true
    trace.foreach(_.enabled = true)
    w.unit(this, i)
    trace.foreach(_.enabled = false)
    inUnit = false
    trace.foreach { t =>
      val (ls, wallMs) = t.attribute(s"${w.name}-$i")
      traceSumErrMs = math.max(traceSumErrMs,
        math.abs(ls.values.map(_.selfMs).sum - wallMs))
      if (unitOk) {
        tracedWall += wallMs / 1e3
        tracedOp += (unitWallNs - unitExtraNs) / 1e9
        if (firstLayers.isEmpty) firstLayers = ls
        ls.foreach { case (n, l) =>
          layers.getOrElseUpdate(n, Trace.Layer()).add(l) }
      }
    }
    if (trace.isEmpty && unitOk) {
      unitWall += unitWallNs / 1e9; unitCpu += unitCpuNs / 1e9
    }
  }

  /** Trace an end-of-run timed part (a final validation) as one more span
    * of the run: its layers count towards the first unit's counters and
    * the per-unit means, and its wall towards `trace.wall_ms`, so the
    * reported self times still sum to the reported wall. */
  def tracedFinish(name: String)(body: => Unit): Unit = {
    unitOk = true; unitWallNs = 0L
    trace.foreach(_.enabled = true)
    body
    trace.foreach { t =>
      t.enabled = false
      val (ls, wallMs) = t.attribute(name)
      traceSumErrMs = math.max(traceSumErrMs,
        math.abs(ls.values.map(_.selfMs).sum - wallMs))
      if (unitOk) {
        finishWallMs += wallMs
        val first = firstLayers.map { case (n, l) => n -> l.copy() }
          .to(mutable.Map)
        ls.foreach { case (n, l) =>
          layers.getOrElseUpdate(n, Trace.Layer()).add(l)
          first.getOrElseUpdate(n, Trace.Layer()).add(l)
        }
        firstLayers = first.toMap
      }
    }
  }

  /** A timed call into the engine. `layer` names the harness span around
    * it; `check` runs untimed on the result and throws on a wrong output.
    * A throw from either counts the operation as failed, with its message,
    * and its time is discarded. `docs` is the number of documents the
    * operation inserts, updates or deletes (or reads, for operator
    * queries), the denominator of `write_bytes_per_doc`. */
  def part[T](name: String, layer: String, docs: => Long = 0L)(
      body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val before: Walk.Snap =
      if (inUnit) Walk.snapshot(root) else Map.empty
    val c0 = Stamp.cpuNs()
    val t0 = System.nanoTime()
    val r =
      try Right(trace.fold(body)(_.span(layer)(body)))
      catch { case e: Throwable => Left(e) }
    val dt = System.nanoTime() - t0
    val dc = Stamp.cpuNs() - c0
    val out = r.flatMap { v =>
      try { check(v); Right(v) } catch { case e: Throwable => Left(e) }
    }
    out match {
      case Right(v) =>
        unitWallNs += dt; unitCpuNs += dc
        parts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt / 1e9
        if (inUnit) {
          bytesCreated += Walk.created(root, before)
          docsTouched += docs
        }
        Some(v)
      case Left(e) =>
        fail(name, e); unitOk = false
        None
    }
  }

  /** An untimed operation whose only purpose is to check outputs. */
  def verify(name: String)(check: => Unit): Unit = {
    attempted += 1
    try check catch { case e: Throwable => fail(name, e) }
  }

  /** Untimed traced span (the separately timed extract materialization):
    * it counts towards the traced unit's wall but not the untraced op. */
  def tracedOnly(name: String, layer: String)(body: => Unit): Unit =
    trace.filter(_.enabled).foreach { t =>
      attempted += 1
      val t0 = System.nanoTime()
      try {
        t.span(layer)(body)
        unitWallNs += System.nanoTime() - t0
        unitExtraNs += System.nanoTime() - t0
      }
      catch { case e: Throwable => fail(name, e); unitOk = false }
    }

  def fail(name: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      .linesIterator.take(3).mkString(" | ")
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def expect(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new IllegalStateException(
      s"$what: got $got, expected $want")
}

/** File-system before/after walk: bytes of the files a timed operation
  * created (a file rewritten in place counts as created). Spark's local
  * shuffle and spill directory is not part of the program's output. */
object Walk {
  type Snap = Map[String, (Long, Long)]

  def snapshot(root: String): Snap = {
    val b = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) {
        if (f.getName != "spark-local")
          Option(f.listFiles()).foreach(_.foreach(walk))
      } else b += f.getPath -> ((f.length(), f.lastModified()))
    walk(new File(root))
    b.result()
  }

  def created(root: String, before: Snap): Long =
    snapshot(root).iterator.collect {
      case (p, v @ (len, _)) if !before.get(p).contains(v) => len
    }.sum

  def deleteTree(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete(): Unit
    }
    del(new File(path))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Host and build stamps for the run record. */
object Stamp {
  def loadAvg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")
      .take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq.empty }

  /** The aggregate `cpu` line of /proc/stat (user nice system idle iowait
    * irq softirq steal ...), in clock ticks. */
  def hostCpu(): Seq[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).take(8).map(_.toLong).toSeq
    catch { case _: Throwable => Seq.empty }

  def stealPct(a: Seq[Long], b: Seq[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.size < 8 || d.sum <= 0) Double.NaN else 100.0 * d(7) / d.sum
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    catch { case _: Throwable => Double.NaN }

  def heap(): String = {
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val xs = (0 until jvm.size).map(jvm.get).filter(_.startsWith("-Xmx"))
    xs.lastOption.getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m")
  }

  /** Digest of the engine's sources, so a run can be tied to the code even
    * where no git metadata is present. */
  def sourceDigest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".scala"))
      .sortBy(_.getPath).foreach { f =>
        md.update(f.getPath.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def write(path: String, text: String): Unit = {
    java.nio.file.Files.createDirectories(Paths.get(path).getParent)
    java.nio.file.Files.writeString(Paths.get(path), text)
  }
}
