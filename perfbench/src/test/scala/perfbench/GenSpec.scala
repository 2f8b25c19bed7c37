package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone: the same seed
  * writes byte-identical corpora, churned snapshots and change-feed files
  * and predicts the same tallies; another seed writes different bytes. */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.io.EngineSession.local(2, "ERROR")
  private val tmp = JFiles.createTempDirectory("perfbench_gen").toFile
  private val sizes = Gen.Sizes(orders = 4000L, customers = 60L,
    documents = 50L, vectors = 50L, events = 50L, parts = 50L,
    suppliers = 10L)

  override def afterAll(): Unit = {
    Walk.deleteTree(tmp.getPath)
    spark.stop()
  }

  /** Contents of every parquet data file under `dir`, by table. */
  private def bytes(dir: String): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(f => f.getParent.stripPrefix(dir) ->
        JFiles.readAllBytes(f.toPath).toSeq)
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.flatten }
  }

  private def run(name: String, seed: Long) = {
    val dir = s"${tmp.getPath}/$name"
    val counts = Gen.corpus(spark, s"$dir/c0", seed, sizes)
    val churn = Gen.churn(spark, s"$dir/c0", s"$dir/c1", seed, 0)
    val pool = Gen.feedPool(spark, s"$dir/c1", seed, 48)
    val feeds = (0 until 2).map(b =>
      Gen.feedBatch(spark, s"$dir/c1", pool, b, 10000L, s"$dir/feed$b"))
    (dir, counts, churn, feeds)
  }

  test("the same seed gives the same bytes and tallies") {
    val (d1, n1, c1, f1) = run("a", 7L)
    val (d2, n2, c2, f2) = run("b", 7L)
    assert(n1 == n2)
    assert(c1 == c2)
    assert(f1 == f2)
    assert(c1.updated > 0 && c1.deleted > 0 && c1.inserted > 0)
    assert(f1.forall(f => f.flat.size == 10 && f.arr.size == 10 &&
      f.del.size == 2 && f.inserted.size == 2 && f.upsertChildRows > 0))
    val (b1, b2) = (bytes(d1), bytes(d2))
    // ten corpus tables; the churned snapshot's orders, lineitems and
    // customers; two feed batches
    assert(b1.keySet.size == 10 + 3 + 2)
    assert(b1 == b2)
  }

  test("another seed gives other bytes") {
    val (d1, _, _, _) = run("c", 7L)
    val (d3, _, _, _) = run("d", 8L)
    val (b1, b3) = (bytes(d1), bytes(d3))
    assert(b1("/c0/orders.parquet") != b3("/c0/orders.parquet"))
    assert(b1("/c1/lineitem.parquet") != b3("/c1/lineitem.parquet"))
    assert(b1("/feed0") != b3("/feed0"))
  }
}
