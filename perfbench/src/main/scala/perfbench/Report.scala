package perfbench

/** The run's output: a run record (stamps, workload metrics, failures) as
  * a JSON file in `--out` and on one stdout line, then the result line —
  * the last line of stdout — holding `correct`, `attempted`, `failed` and
  * the end-to-end metrics (untraced run) or the per-layer metrics (traced
  * run). */
object Report {
  import Trace.q

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> q(unit)))

  def endToEnd(c: Ctx, setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("op_s", Stats.median(c.unitWall.toSeq), "s"),
    ("cpu_s", Stats.median(c.unitCpu.toSeq), "s"),
    ("peak_rss_mb", Stamp.peakRssMb(), "MiB"),
    ("write_bytes_per_doc", bytesPerDoc(c), "B"))

  private def bytesPerDoc(c: Ctx): Double =
    if (c.docsTouched == 0) Double.NaN
    else c.bytesCreated.toDouble / c.docsTouched

  /** Per-layer metrics of a traced run. Times are means per traced unit;
    * the counters are the first traced unit's, whose inputs depend only on
    * the seed, so they repeat exactly. */
  def perLayer(c: Ctx): Seq[(String, Double, String)] = {
    val n = c.tracedWall.size.max(1).toDouble
    def layer(name: String, fields: Set[String]): Seq[(String, Double, String)] = {
      val mean = c.layers.getOrElse(name, Trace.Layer())
      val first = c.firstLayers.getOrElse(name, Trace.Layer())
      val times = Set("self_ms", "task_ms", "gap_ms")
      mean.fields.zip(first.fields).collect {
        case ((f, m, u), (_, v, _)) if fields(f) =>
          (s"$name.$f", if (times(f)) m / n else v.toDouble, u)
      }
    }
    val all = Trace.Layer().fields.map(_._1).toSet
    val layers = Trace.Layers.flatMap(layer(_, all))
    val queries = Operators.Queries.flatMap(qn => layer(s"queries.$qn",
      Set("self_ms", "jobs", "shuffle_bytes")))
    val counts = Seq("sync", "feed").flatMap(p => Seq("buckets_rewritten",
        "docs_changed", "child_rows_written", "child_rows_deleted")
        .map(k => s"$p.$k"))
      .map(k => (k, c.counts.getOrElse(k, 0L).toDouble, "count"))
    // trace.op_ms is comparable with the untraced run's op_s: their
    // difference for one seed is the tracing overhead
    layers ++ queries ++ counts ++ Seq(
      ("trace.wall_ms", (c.tracedWall.sum * 1000 + c.finishWallMs) / n, "ms"),
      ("trace.op_ms", Stats.median(c.tracedOp.toSeq) * 1000, "ms"))
  }

  def emit(c: Ctx, w: Workload, setupS: Double, preps: Seq[Double],
      onceS: Double, loadPre: Seq[Double], loadPost: Seq[Double]): Unit = {
    val a = c.args
    val metrics = if (a.trace) perLayer(c) else endToEnd(c, setupS)
    val named = w.named(c) ++ Seq(
      ("fail_ratio", c.failed.toDouble / c.attempted.max(1), "ratio"),
      ("peak_rss_mb", Stamp.peakRssMb(), "MiB"),
      ("write_bytes_per_doc", bytesPerDoc(c), "B"))
    val record = obj(Seq(
      "workload" -> q(w.name), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "nproc" -> c.cores.toString,
      "load_pre" -> loadPre.map(num).mkString("[", ",", "]"),
      "load_post" -> loadPost.map(num).mkString("[", ",", "]"),
      "steal_pct" -> num(c.stealPct),
      "heap" -> q(Stamp.heap()), "commit" -> q(a.commit),
      "source_digest" -> q(Stamp.sourceDigest("src/main/scala")),
      "fixture" -> obj(c.fixture.toSeq.map { case (k, v) => k -> v.toString }),
      "units" -> c.unitWall.size.max(c.tracedWall.size).toString,
      "unit_walls_s" -> c.unitWall.map(num).mkString("[", ",", "]"),
      "part_walls_s" -> obj(c.parts.toSeq.map { case (k, v) =>
        k -> v.map(num).mkString("[", ",", "]") }),
      "setup_once_s" -> num(onceS),
      "setup_repeat_s" -> preps.map(num).mkString("[", ",", "]"),
      "attempted" -> c.attempted.toString, "failed" -> c.failed.toString,
      "failures" -> c.failures.map(q).mkString("[", ",", "]"),
      "trace_sum_err_ms" -> c.traceSumErrMs.toString,
      "workload_metrics" -> obj(named.map { case (k, v, u) =>
        k -> metric(v, u) }),
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> metric(v, u) })))
    val base = s"${a.out}/${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Stamp.write(s"$base.json", record + "\n")
    c.trace.foreach(t => Stamp.write(s"$base.jsonl", t.log.mkString("\n") + "\n"))
    if (Operators.seen.nonEmpty) Stamp.write(s"${a.out}/operator_digests.txt",
      Operators.seen.map { case (k, v) => s"$k $v" }.mkString("\n") + "\n")
    val correct = c.failed == 0 && c.attempted > 0 && c.traceSumErrMs == 0 &&
      metrics.forall(m => !m._2.isNaN)
    println(s"""{"record":$record}""")
    println(obj(Seq("correct" -> correct.toString,
      "attempted" -> c.attempted.toString, "failed" -> c.failed.toString,
      "metrics" -> obj(metrics.map { case (k, v, u) => k -> metric(v, u) }))))
    System.out.flush()
  }
}
