package perfbench

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sync.{IncrementalSync, SyncResult}
import graft.workflow.{MigrationConfig, MigrationWorkflow}

/** The steps of a run. `prepare` runs `setups` times (the run reports the
  * median); `unit` is one closed-loop iteration, timed only inside its
  * `Ctx.part` calls. */
trait Part {
  /** One-time work before the repeated set-ups. */
  def warmup(c: Ctx): Unit = ()
  def prepare(c: Ctx, i: Int): Unit
  /** One-time work after the repeated set-ups, on the last one's inputs. */
  def ready(c: Ctx): Unit = ()
  def unit(c: Ctx, i: Int): Unit
  /** End-of-run work: checks, and timed parts that follow the units. */
  def finish(c: Ctx): Unit = ()
  /** The run's workload-specific metrics: (name, value, unit). */
  def named(c: Ctx): Seq[(String, Double, String)]
}

/** One benchmark workload. */
trait Workload extends Part {
  def name: String
  def setups: Int = 3
  /** Nominal seconds of one unit on a 4-core host: the run measures
    * about `--seconds / unitSeconds` units, an odd number and at least
    * three, so the reported median is one unit's. The count depends on
    * `--seconds` alone, never on measured time, so every run of a seed
    * does the same work — sync rounds slow down as a target accumulates
    * files, so a time-bound loop would compare different rounds. */
  def unitSeconds: Double
  def units(seconds: Int): Int =
    math.max(3, math.round(seconds / unitSeconds).toInt) | 1
}

object Workloads {
  val byName: Map[String, Workload] =
    Seq(MigrateOps, Sync).map(w => w.name -> w).toMap

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def partMedian(c: Ctx, part: String): Double =
    Stats.median(c.parts.get(part).map(_.toSeq).getOrElse(Seq.empty))

  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(from).getFileSystem(conf)
    FileUtil.copy(fs, new Path(from), fs, new Path(to), false, conf): Unit
  }

  /** Order-free digest of a frame's rows: (row count, sum of a 64-bit hash
    * of each row's columns rendered as strings, in name order). */
  def digestCols(df: DataFrame): Seq[Column] = {
    val cols = df.columns.sorted.toSeq
    Seq(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(to_json(struct(cols.map(c =>
        col(s"`$c`").cast("string").as(c)): _*))).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))
  }

  def syncTallies(r: SyncResult): String =
    s"new=${r.newDocs} updated=${r.updated} deleted=${r.deleted} " +
      s"unchanged=${r.unchanged}"
}

import Workloads._

/** The bulk path of [[MigrateOps]]: `MigrationWorkflow.run` over the
  * `odocs` (orders with a nested customer, a lineitems array and tags) and
  * `cdocs` (customers with an orders array) collections; after the last
  * unit, `validationOnly` per collection on its output. */
object Migrate extends Part {
  val sizes = Gen.Sizes(orders = 3000L, customers = 300L, documents = 100L,
    vectors = 100L)
  private val collections = Seq("odocs", "cdocs")
  /** The tables `orderDocs` and `customerDocs` read. */
  private val Read = Set("nation", "customer", "orders", "lineitem")
  private val fields = Map(
    "odocs" -> Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
    "cdocs" -> Seq("c_name", "c_acctbal", "c_mktsegment"))
  private var src = ""
  private var counts: Gen.Counts = _

  /** The untimed warm-up migrates a quarter-size corpus once, so the first
    * timed unit does not pay the code generation and most of the JIT. */
  override def warmup(c: Ctx): Unit = {
    src = c.path("warm")
    counts = Gen.corpus(c.spark, src, c.seed + 1,
      sizes.copy(orders = sizes.orders / 4, customers = sizes.customers / 4),
      Read)
    val out = c.path("warm_out")
    val reports = MigrationWorkflow.run(c.spark, src, collections,
      MigrationConfig(_, out), docs(c, _))
    require(reports.forall(_.status == "PASSED"), "warm-up migration failed")
    Seq(src, out).foreach(Walk.deleteTree)
    src = ""
  }

  def prepare(c: Ctx, i: Int): Unit = {
    if (src.nonEmpty) Walk.deleteTree(src)
    src = c.path(s"src$i")
    counts = Gen.corpus(c.spark, src, c.seed, sizes, Read)
    c.fixture ++= Seq("orders" -> counts.orders,
      "lineitems" -> counts.lineitems, "customers" -> counts.customers)
  }

  private def docs(c: Ctx, n: String): DataFrame =
    if (n == "odocs") Tables.orderDocs(c.spark, src)
    else Tables.customerDocs(c.spark, src)

  private def expected: Map[String, Long] = Map(
    "odocs" -> counts.orders, "odocs_customer" -> counts.orders,
    "odocs_lineitems" -> counts.lineitems, "odocs_tags" -> 2 * counts.orders,
    "cdocs" -> counts.customers, "cdocs_nation" -> counts.customers,
    "cdocs_orders" -> counts.orders)

  private var out = ""
  private def cfg(n: String) = MigrationConfig(n, out)

  def unit(c: Ctx, i: Int): Unit = {
    if (out.nonEmpty) Walk.deleteTree(out)
    out = c.path(s"mig$i")
    c.part("migrate_s", "workflow", counts.orders + counts.customers) {
      MigrationWorkflow.run(c.spark, src, collections, cfg, docs(c, _))
    } { reports =>
      c.expect("row counts", reports.flatMap(_.rowCounts).toMap, expected)
      reports.foreach(r =>
        c.expect(s"${r.collection} status", r.status, "PASSED"))
    }
    c.tracedOnly("extract", "extract") {
      noop(docs(c, "odocs")); noop(docs(c, "cdocs"))
    }
  }

  override def finish(c: Ctx): Unit = c.tracedFinish("migrate-finish") {
    c.part("validate_s", "validate") {
      collections.map(n => n -> MigrationWorkflow.validationOnly(c.spark,
        docs(c, n), cfg(n), fields(n)).collect().map(_.getAs[String]("status"))
        .toSeq)
    } { _.foreach { case (n, st) => c.expect(s"$n validation", st,
      Seq("PASSED")) } }
  }

  def named(c: Ctx): Seq[(String, Double, String)] = Seq(
    ("migrate_docs_per_s",
      (counts.orders + counts.customers) / partMedian(c, "migrate_s"), "1/s"),
    ("validate_s", partMedian(c, "validate_s"), "s"))
}

/** `sync`: the two incremental paths on one corpus. Each unit is one
  * seeded 1% churn round applied as a full snapshot, through
  * `incrementalMigration`, to a changed-bucket target (16 buckets) and to a
  * whole-table legacy target — churn drawn uniformly over the keys touches
  * most buckets, so pruning saves little — and one seeded change-feed file
  * of 24 documents appended to a third, bucketed target's feed directory
  * and drained with `StreamSync.runFeedAvailableNow`, children from
  * `ChildSync.forSchema` per batch. A snapshot pass hashes and diff-joins the whole corpus; a
  * feed batch's churn is tiny against the table, so its cost is per-batch
  * fixed work, the changed-bucket stage and swap and the child lockstep. */
object Sync extends Workload {
  val name = "sync"
  val unitSeconds = 14.0
  /** Two units, not three: a unit holds three syncs, and every run of the
    * benchmark has to fit the time budget the README works out. */
  override def units(seconds: Int): Int = 2
  val sizes = Gen.Sizes(orders = 1000L, customers = 100L, documents = 10L,
    vectors = 10L)
  /** The tables `orderDocs` reads. */
  private val Read = Set("customer", "orders", "lineitem")
  private val Buckets = 16
  private val Fields = Seq("o_orderstatus", "o_totalprice", "o_orderpriority")
  private var base = ""
  private var cur = ""
  private var outA = ""
  private var outB = ""
  private var outF = ""
  private var maxKey = 0L
  private var pool: Seq[Long] = Seq.empty
  private var feedRows = 0L
  private def cfgA = MigrationConfig("odocs", outA, syncBuckets = Some(Buckets))
  private def cfgB = MigrationConfig("odocs", outB)

  def prepare(c: Ctx, i: Int): Unit = {
    if (base.nonEmpty) Walk.deleteTree(base)
    base = c.path(s"base$i")
    val n = Gen.corpus(c.spark, base, c.seed, sizes, Read)
    c.fixture ++= Seq("orders" -> n.orders, "lineitems" -> n.lineitems,
      "customers" -> n.customers)
  }

  /** Every target starts from a copy of one bootstrap migration; the first
    * incremental run writes the sync state and, in bucketed mode, adopts
    * the plain tables into the bucket layout, which the feed target
    * copies. */
  override def ready(c: Ctx): Unit = {
    cur = base
    maxKey = c.spark.read.parquet(s"$base/orders.parquet")
      .agg(max("o_orderkey")).head().getLong(0)
    pool = Gen.feedPool(c.spark, base, c.seed, 24 * units(c.args.seconds))
    val migrated = c.path("migrated")
    outA = c.path("bucketed")
    outB = c.path("legacy")
    outF = c.path("feed")
    val docs = Tables.orderDocs(c.spark, base)
    val r = MigrationWorkflow.fullMigration(c.spark, docs,
      MigrationConfig("odocs", migrated))
    require(r.status == "PASSED", s"bootstrap: ${r.status}")
    feedRows = r.rowCounts("odocs")
    copyDir(c.spark, migrated, outA)
    copyDir(c.spark, migrated, outB)
    MigrationWorkflow.incrementalMigration(c.spark, docs, cfgA)
    MigrationWorkflow.incrementalMigration(c.spark, docs, cfgB)
    copyDir(c.spark, outA, outF)
    Walk.deleteTree(migrated)
  }

  private def bucketsRewritten(before: Walk.Snap, dir: String): Long =
    Walk.snapshot(dir).keys.filterNot(before.contains)
      .flatMap(_.split('/').find(_.startsWith("__bucket="))).toSet.size.toLong

  def unit(c: Ctx, r: Int): Unit = {
    snapshotRound(c, r)
    feedBatch(c, r)
  }

  private def snapshotRound(c: Ctx, r: Int): Unit = {
    val next = c.path(s"round${r + 1}")
    val exp = Gen.churn(c.spark, cur, next, c.seed, r)
    def check(mode: String)(res: Either[_, SyncResult]): SyncResult = {
      val s = res.toOption.getOrElse(throw new IllegalStateException(
        s"$mode: incremental sync fell back to a full migration"))
      c.expect(s"$mode round $r tallies", syncTallies(s),
        syncTallies(SyncResult(exp.inserted, exp.updated, exp.deleted,
          exp.unchanged, 0L)))
      s
    }
    val before = Walk.snapshot(s"$outA/odocs.parquet")
    val a = c.part("sync_bucketed_s", "sync.other", exp.touched) {
      MigrationWorkflow.incrementalMigration(c.spark,
        Tables.orderDocs(c.spark, next), cfgA)
    }(check("bucketed"))
    val rewritten = bucketsRewritten(before, s"$outA/odocs.parquet")
    val b = c.part("sync_legacy_s", "sync.other", exp.touched) {
      MigrationWorkflow.incrementalMigration(c.spark,
        Tables.orderDocs(c.spark, next), cfgB)
    }(check("legacy"))
    c.tracedOnly("extract", "extract")(noop(Tables.orderDocs(c.spark, next)))
    if (r == 0) {
      val rs = (a ++ b).flatMap(_.toOption).toSeq
      c.counts("sync.buckets_rewritten") = rewritten
      c.counts("sync.docs_changed") = rs.map(_.totalProcessed).sum
      c.counts("sync.child_rows_written") =
        rs.flatMap(_.children.values).map(_.inserted).sum
      c.counts("sync.child_rows_deleted") =
        rs.flatMap(_.children.values).map(_.deleted).sum
    }
    if (cur != base) Walk.deleteTree(cur)
    cur = next
  }

  /** Feed batch `b`: its documents come from the untouched base corpus, in
    * a slice of the seeded pool of its own, so every batch edits documents
    * no earlier batch touched. */
  private def feedBatch(c: Ctx, b: Int): Unit = {
    val stage = s"$outF/stage$b"
    val f = Gen.feedBatch(c.spark, base, pool, b, maxKey, stage)
    import f.{flat, arr, del, inserted}
    val feedDir = s"$outF/feed"
    val id = col("_id")
    def strs(xs: Seq[Long]) = xs.map(_.toString)
    val schema = c.spark.read.parquet(stage).schema
    val fs = new Path(outF).getFileSystem(
      c.spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(feedDir))
    val file = fs.listStatus(new Path(stage)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val upIds = strs(flat ++ arr ++ inserted)
    val specs = graft.model.RelationalModel.fromSchema(schema, "odocs")
      .filter(_.kind != graft.model.TableKind.Main)
    // child rows of each named key set, over every child table, in one job
    def childRows(sets: (String, Seq[String])*): Map[String, Long] =
      specs.flatMap { s => sets.map { case (k, keys) =>
        IncrementalSync.readTarget(c.spark, s"$outF/${s.name}.parquet")
          .filter(col(s.fkColumn.get).isin(keys: _*)).select(lit(k).as("k"))
      } }.reduce(_ unionByName _).groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val priorChild =
      if (b == 0) childRows("t" -> strs(flat ++ arr ++ del))("t") else 0L
    val before = Walk.snapshot(s"$outF/odocs.parquet")
    // the file lands, then the timed drain commits it
    fs.rename(file, new Path(s"$feedDir/batch-$b.parquet"))
    Walk.deleteTree(stage)
    c.part("feed_batch_s", "streaming.batch", 24L) {
      graft.streaming.StreamSync.runFeedAvailableNow(c.spark, feedDir,
        s"$outF/odocs.parquet", s"$outF/sync_state_odocs.parquet",
        s"$outF/checkpoint", Buckets, schema = Some(schema),
        childrenFor = Some(u =>
          graft.sync.ChildSync.forSchema(u, "odocs", outF)))
    } { _ =>
      val t = IncrementalSync.readTarget(c.spark, s"$outF/odocs.parquet")
        .filter(id.isin(strs(flat ++ arr ++ del ++ inserted): _*))
        .select(id, col("o_orderpriority")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      c.expect(s"batch $b upserts present", upIds.count(t.contains),
        upIds.size)
      c.expect(s"batch $b flat edits", strs(flat).count(k =>
        t.get(k).contains(f.prio)), flat.size)
      c.expect(s"batch $b deletes", strs(del).count(t.contains), 0)
      val after = childRows("up" -> upIds, "del" -> strs(del))
      val gotChild = after("up")
      c.expect(s"batch $b child rows", gotChild, f.upsertChildRows)
      c.expect(s"batch $b deleted child rows", after("del"), 0L)
      if (b == 0) {
        c.counts("feed.docs_changed") = (upIds.size + del.size).toLong
        c.counts("feed.child_rows_written") = gotChild
        c.counts("feed.child_rows_deleted") = priorChild
        c.counts("feed.buckets_rewritten") =
          bucketsRewritten(before, s"$outF/odocs.parquet")
      }
    }
    feedRows += inserted.size - del.size
  }

  override def finish(c: Ctx): Unit = {
    val docs = Tables.orderDocs(c.spark, cur)
    c.tracedFinish(s"$name-finish") {
      c.part("validate_s", "validate") {
        MigrationWorkflow.validationOnly(c.spark, docs, cfgA, Fields)
          .collect().map(_.getAs[String]("status")).toSeq
      } { st => c.expect("final validation", st, Seq("PASSED")) }
    }
    // bucketed target == legacy target == a fresh decomposition of the
    // final snapshot, table by table, as one job
    c.verify("final targets equal") {
      val specs = graft.model.RelationalModel.fromSchema(docs.schema, "odocs")
      val fresh = graft.decompose.Decomposer.decompose(docs, specs)
      val legs = fresh.toSeq.sortBy(_._1).flatMap { case (t, df) =>
        val cols = df.columns.toSeq
        Seq("fresh" -> df, "bucketed" -> IncrementalSync.readTarget(c.spark,
            s"$outA/$t.parquet"), "legacy" -> IncrementalSync.readTarget(
            c.spark, s"$outB/$t.parquet"))
          .map { case (k, d) =>
            val rows = d.select(cols.map(col): _*)
            val dg = digestCols(rows)
            rows.agg(dg.head, dg.tail: _*).select(lit(t).as("t"),
              lit(k).as("k"), col("n"), col("h").cast("string").as("h"))
          }
      }
      val rows = legs.reduce(_ unionByName _).collect()
      rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
        val byK = rs.map(r => r.getString(1) -> (r.getLong(2), r.getString(3)))
          .toMap
        c.expect(s"$t bucketed rows", byK("bucketed"), byK("fresh"))
        c.expect(s"$t legacy rows", byK("legacy"), byK("fresh"))
      }
    }
    c.verify("final feed main-table count") {
      c.expect("feed main rows", IncrementalSync.readTarget(c.spark,
        s"$outF/odocs.parquet").count(), feedRows)
    }
  }

  def named(c: Ctx): Seq[(String, Double, String)] = Seq(
    ("sync_bucketed_s", partMedian(c, "sync_bucketed_s"), "s"),
    ("sync_legacy_s", partMedian(c, "sync_legacy_s"), "s"),
    ("feed_batch_s", partMedian(c, "feed_batch_s"), "s"),
    ("validate_s", partMedian(c, "validate_s"), "s"))
}

/** The operator pass of [[MigrateOps]]: registry queries with the noop
  * sink — `pipeline_curation`, the curation chain of `graft.scale` (quality
  * gate, language id, exact and LSH fuzzy dedup). The corpus is fixed,
  * because each query's output digest is pinned; every pass reads a fresh
  * copy of it, so it pays its own session-memo builds. */
object Operators extends Part {
  val Queries = Seq("pipeline_curation")
  val CorpusSeed = 42L
  /** The tables the queries read. */
  private val Read = Set("documents")
  val sizes = Gen.Sizes(orders = 500L, customers = 50L, documents = 500L,
    vectors = 500L)
  private var corpus = ""
  lazy val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/operator_digests.txt")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> a(1)).toMap
    finally in.close()
  }
  /** Digests computed in this run, for re-pinning. */
  val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def run(c: Ctx, q: String, dir: String): String = {
    val df = graft.SparkEntry.queries(q)(c.spark, dir)
    val obs = org.apache.spark.sql.Observation()
    val d = digestCols(df)
    noop(df.observe(obs, d.head, d.tail: _*))
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  /** The corpus is fixed, so it is written once; the untimed warm-up
    * runs one pass over a fresh copy of it, like a timed pass. */
  override def warmup(c: Ctx): Unit = {
    corpus = c.path("ops")
    val n = Gen.corpus(c.spark, corpus, CorpusSeed, sizes, Read)
    c.fixture ++= Seq("documents" -> n.documents)
    val dir = c.path("ops_warm")
    copyDir(c.spark, corpus, dir)
    Queries.foreach(q => run(c, q, dir))
    c.spark.catalog.clearCache()
    Walk.deleteTree(dir)
  }

  def prepare(c: Ctx, i: Int): Unit = ()

  def unit(c: Ctx, p: Int): Unit = {
    val dir = c.path(s"pass$p")
    copyDir(c.spark, corpus, dir)
    c.spark.catalog.clearCache()
    Queries.foreach { q =>
      c.part(s"query:$q", s"queries.$q", sizes.documents) {
        run(c, q, dir)
      } { d =>
        seen(q) = d
        c.expect(s"$q digest", d, pinned.getOrElse(q, "<not pinned>"))
      }
    }
    Walk.deleteTree(dir)
  }

  def named(c: Ctx): Seq[(String, Double, String)] = Seq(
    ("operators_s", Queries.map(q => partMedian(c, s"query:$q")).sum, "s"))
}

/** `migrate_ops`: the one-time work over a source corpus — a [[Migrate]]
  * unit (`MigrationWorkflow.run` of two collections) and then an
  * [[Operators]] pass — in one session, so the two share the session start
  * and the engine's warm-up; `validationOnly` follows the last unit. */
object MigrateOps extends Workload {
  val name = "migrate_ops"
  private val parts = Seq(Migrate, Operators)
  val unitSeconds = 8.0
  override def warmup(c: Ctx): Unit = parts.foreach(_.warmup(c))
  def prepare(c: Ctx, i: Int): Unit = parts.foreach(_.prepare(c, i))
  def unit(c: Ctx, i: Int): Unit = parts.foreach(_.unit(c, i))
  override def finish(c: Ctx): Unit = parts.foreach(_.finish(c))
  def named(c: Ctx): Seq[(String, Double, String)] = parts.flatMap(_.named(c))
}
