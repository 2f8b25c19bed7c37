package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, salt,
  * row key) through `xxhash64`, so the same seed gives the same rows no
  * matter how Spark partitions the work, and every table is written as one
  * file so the same seed also gives the same bytes.
  *
  * The relational corpus has the schema of the engine's TPC-H-ish fixture
  * (`region nation customer supplier part orders lineitem events documents
  * embeddings`), so `graft.Tables.orderDocs`/`customerDocs`, `MakeScale`
  * and the operator queries read it unchanged. */
object Gen {

  /** Sizes of one generated corpus. Lineitems average four per order. */
  case class Sizes(orders: Long, customers: Long, documents: Long,
      vectors: Long, events: Long = 2000L, parts: Long = 2000L,
      suppliers: Long = 100L)

  /** Row counts of a written corpus, stamped into the run record. */
  case class Counts(orders: Long, lineitems: Long, customers: Long,
      documents: Long, vectors: Long)

  private def h(seed: Long, salt: String, key: Column): Column =
    xxhash64(lit(seed), lit(salt), key)

  /** Uniform integer in [0, n). */
  def pick(seed: Long, salt: String, key: Column, n: Long): Column =
    pmod(h(seed, salt, key), lit(n))

  private def choose(seed: Long, salt: String, key: Column,
      values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (pick(seed, salt, key, values.size) + 1).cast("int"))

  private def money(seed: Long, salt: String, key: Column,
      max: Long): Column =
    (pick(seed, salt, key, max * 100) / 100.0).cast("double")

  private def day(seed: Long, salt: String, key: Column): Column =
    timestamp_seconds(lit(694224000L) +
      pick(seed, salt, key, 3650L) * 86400L)

  private val Vocab = Seq("a", "the", "data", "spark", "query", "table",
    "row", "column", "key", "value", "hash", "join", "sort", "group", "agg",
    "filter", "scan", "merge", "stream", "batch", "window", "vector", "line",
    "part", "order", "customer", "fast", "slow", "big", "small")
  private val Langs = Seq("en", "en", "en", "en", "zh", "zh", "es", "es",
    "fr", "fr", "de", "de")

  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  val AllTables: Set[String] = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Write the corpus tables named in `tables` (every table by default)
    * under `dir` and return the row counts. */
  def corpus(spark: SparkSession, dir: String, seed: Long, sz: Sizes,
      tables: Set[String] = AllTables): Counts = {
    val id = col("id")
    def write(df: => DataFrame, path: String): Unit = {
      val t = path.split('/').last.stripSuffix(".parquet")
      if (tables(t)) Gen.write(df, path)
    }
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION"), id).as("r_name")), s"$dir/region.parquet")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION"), id).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      s"$dir/nation.parquet")
    write(spark.range(sz.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, "c_nation", id, 25).cast("int").as("c_nationkey"),
      money(seed, "c_acctbal", id, 10000L).as("c_acctbal"),
      choose(seed, "c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      s"$dir/customer.parquet")
    write(spark.range(sz.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(seed, "s_nation", id, 25).cast("int").as("s_nationkey"),
      money(seed, "s_acctbal", id, 10000L).as("s_acctbal")),
      s"$dir/supplier.parquet")
    write(spark.range(sz.parts).select(id.as("p_partkey"),
      concat(lit("part "), id).as("p_name"),
      concat(lit("Brand#"), pick(seed, "p_brand", id, 25)).as("p_brand"),
      choose(seed, "p_type", id, Seq("STEEL", "BRASS", "COPPER", "TIN"))
        .as("p_type"),
      (pick(seed, "p_size", id, 50) + 1).cast("int").as("p_size"),
      money(seed, "p_price", id, 2000L).as("p_retailprice")),
      s"$dir/part.parquet")
    write(orders(spark, seed, sz.orders, sz.customers), s"$dir/orders.parquet")
    write(lineitems(spark.range(sz.orders).select(id.as("o_orderkey")),
      seed, sz.parts, sz.suppliers), s"$dir/lineitem.parquet")
    write(spark.range(sz.events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * 43000000L +
        pick(seed, "ev_ts", id, 1000000L)).as("ts"),
      pick(seed, "ev_user", id, 2000L).as("user_id"),
      choose(seed, "ev_type", id, Seq("view", "click", "signup", "error",
        "purchase")).as("event_type"),
      money(seed, "ev_value", id, 200L).as("value"),
      format_string("{\"k\": %d}", pick(seed, "ev_k", id, 100L)).as("props")),
      s"$dir/events.parquet")
    write(documents(spark, seed, sz.documents), s"$dir/documents.parquet")
    write(vectors(spark, seed, sz.vectors), s"$dir/embeddings.parquet")
    val li =
      if (tables("lineitem")) spark.read.parquet(s"$dir/lineitem.parquet").count()
      else 0L
    Counts(sz.orders, li, sz.customers, sz.documents, sz.vectors)
  }

  /** Orders with keys `[0, n)`. */
  def orders(spark: SparkSession, seed: Long, n: Long,
      customers: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(id.as("o_orderkey"),
      pick(seed, "o_cust", id, customers).as("o_custkey"),
      choose(seed, "o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, "o_price", id, 400000L).as("o_totalprice"),
      day(seed, "o_date", id).as("o_orderdate"),
      choose(seed, "o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
  }

  /** One to seven lineitems for every order key in `keys.o_orderkey`. */
  def lineitems(keys: DataFrame, seed: Long, parts: Long,
      suppliers: Long): DataFrame = {
    val k = col("o_orderkey")
    val lk = xxhash64(k, col("l_linenumber"))
    keys.select(k, explode(sequence(lit(1),
        (pick(seed, "l_n", k, 7) + 1).cast("int"))).as("l_linenumber"))
      .select(k.as("l_orderkey"),
        pick(seed, "l_part", lk, parts).as("l_partkey"),
        pick(seed, "l_supp", lk, suppliers).as("l_suppkey"),
        col("l_linenumber"),
        (pick(seed, "l_qty", lk, 50) + 1).cast("double").as("l_quantity"),
        money(seed, "l_price", lk, 100000L).as("l_extendedprice"),
        (pick(seed, "l_disc", lk, 11) / 100.0).as("l_discount"),
        (pick(seed, "l_tax", lk, 9) / 100.0).as("l_tax"),
        choose(seed, "l_rf", lk, Seq("A", "N", "R")).as("l_returnflag"),
        choose(seed, "l_ls", lk, Seq("F", "O")).as("l_linestatus"),
        day(seed, "l_ship", lk).as("l_shipdate"))
  }

  /** Bag-of-words documents over a small vocabulary, 8 to 80 words each;
    * one in ten repeats an earlier document's words, so the dedup
    * operators find duplicates. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val src = when(pick(seed, "d_dup", id, 10) === 0 && id > 10,
      pick(seed, "d_dupof", id, 1000000L) % id).otherwise(id)
    val words = transform(
      sequence(lit(1), (pick(seed, "d_len", src, 73) + 8).cast("int")),
      i => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), src, i), lit(Vocab.size.toLong)) + 1)
          .cast("int")))
    spark.range(n).select(id.as("doc_id"),
        array_join(words, " ").as("text"),
        choose(seed, "d_lang", src, Langs).as("lang"),
        concat(lit("src"), pick(seed, "d_src", id, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dimensional float vectors around ten label centroids. */
  def vectors(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = pick(seed, "v_label", id, 10)
    def unit(c: Column): Column = (pmod(c, lit(2000001L)) - 1000000L) / 1e6
    spark.range(n).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (unit(xxhash64(lit(seed), lit("centroid"), label, d)) * 0.3 +
          unit(xxhash64(lit(seed), lit("noise"), id, d)) * 0.1)
          .cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }

  /** Expected sync tallies of one churn round. */
  case class Churn(updated: Long, inserted: Long, deleted: Long,
      unchanged: Long) {
    def touched: Long = updated + inserted + deleted
  }

  /** Derive the next snapshot of an orders/lineitem corpus. Per round, in
    * a seeded order of the order keys, the first 0.5% of orders get a new
    * `o_orderpriority` (a flat edit), the next 0.5% get their first
    * lineitem's quantity changed (an edit inside the lineitems array
    * only), the next 0.1% are deleted with their lineitems and the next
    * 0.1% are cloned under new keys (inserts). The counts are exact, so
    * every round touches the same number of documents. */
  def churn(spark: SparkSession, prev: String, next: String, seed: Long,
      round: Int): Churn = {
    import org.apache.spark.sql.expressions.Window
    val o = spark.read.parquet(s"$prev/orders.parquet")
    val l = spark.read.parquet(s"$prev/lineitem.parquet")
    val total = o.count()
    val edits = math.max(1L, math.round(total * 0.005))
    val moves = math.max(1L, math.round(total * 0.001))
    val rank = row_number().over(Window.orderBy(
      xxhash64(lit(seed), lit(round), col("o_orderkey")), col("o_orderkey")))
    val oc = o.withColumn("__r", rank)
      .withColumn("__c", when(col("__r") <= edits, "flat")
        .when(col("__r") <= 2 * edits, "array")
        .when(col("__r") <= 2 * edits + moves, "delete")
        .when(col("__r") <= 2 * edits + 2 * moves, "clone")
        .otherwise("keep")).drop("__r")
    val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
    val clones = oc.filter(col("__c") === "clone")
      .withColumn("__new", lit(maxKey) +
        row_number().over(Window.orderBy("o_orderkey")))
    val orders = oc.filter(col("__c") =!= "delete")
      .withColumn("o_orderpriority", when(col("__c") === "flat",
        lit(s"9-CHURN-$round")).otherwise(col("o_orderpriority")))
      .drop("__c")
      .unionByName(clones.withColumn("o_orderkey", col("__new"))
        .drop("__c", "__new"))
    val lc = l.join(oc.select(col("o_orderkey").as("l_orderkey"), col("__c")),
      "l_orderkey")
    val items = lc.filter(col("__c") =!= "delete")
      .withColumn("l_quantity", when(col("__c") === "array" &&
        col("l_linenumber") === 1, col("l_quantity") + 100.0)
        .otherwise(col("l_quantity")))
      .drop("__c")
      .unionByName(lc.filter(col("__c") === "clone")
        .join(clones.select(col("o_orderkey").as("l_orderkey"), col("__new")),
          "l_orderkey")
        .withColumn("l_orderkey", col("__new")).drop("__c", "__new"))
    write(orders.orderBy("o_orderkey"), s"$next/orders.parquet")
    write(items.orderBy("l_orderkey", "l_linenumber"),
      s"$next/lineitem.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(prev).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$prev/customer.parquet"), fs,
      new org.apache.hadoop.fs.Path(s"$next/customer.parquet"), false, conf)
    Churn(2 * edits, moves, moves, total - 2 * edits - moves)
  }

  /** Order keys in a seeded order, `n` of them: the documents the feed
    * batches edit, each used once. */
  def feedPool(spark: SparkSession, dir: String, seed: Long,
      n: Int): Seq[Long] =
    spark.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"))
      .orderBy(xxhash64(lit(seed), col("o_orderkey")))
      .limit(n).collect().map(_.getLong(0)).toSeq

  /** One change-feed batch and what applying it must do. */
  case class Feed(flat: Seq[Long], arr: Seq[Long], del: Seq[Long],
      cloned: Seq[Long], inserted: Seq[Long], prio: String,
      upsertChildRows: Long)

  /** Write change-feed batch `b` (one parquet file under `path`): full
    * order documents of `dir` tagged `_op` = `upsert` or `delete` — ten
    * with a new `o_orderpriority`, ten with their first lineitem's
    * quantity changed, two clones under new keys above `maxKey`, and two
    * deletes — drawn from `pool` slice `b`. */
  def feedBatch(spark: SparkSession, dir: String, pool: Seq[Long], b: Int,
      maxKey: Long, path: String): Feed = {
    val ids = pool.slice(24 * b, 24 * b + 24)
    require(ids.size == 24, s"feed pool exhausted at batch $b")
    val (flat, arr, del, src) =
      (ids.take(10), ids.slice(10, 20), ids.slice(20, 22), ids.slice(22, 24))
    val inserted = src.indices.map(j => maxKey + 1 + 2L * b + j)
    val docs = graft.Tables.orderDocsWhere(spark, dir, _.isin(ids: _*))
    val prio = s"9-FEED-$b"
    val id = col("_id")
    def strs(xs: Seq[Long]) = xs.map(_.toString)
    val edited = docs.filter(id.isin(strs(flat ++ arr): _*))
      .withColumn("o_orderpriority", when(id.isin(strs(flat): _*), lit(prio))
        .otherwise(col("o_orderpriority")))
      .withColumn("lineitems", when(id.isin(strs(arr): _*),
        transform(col("lineitems"), (x, k) => when(k === 0,
          x.withField("l_quantity", x.getField("l_quantity") + 100.0))
          .otherwise(x))).otherwise(col("lineitems")))
    val clones = src.zip(inserted).map { case (s, n) =>
      docs.filter(id === s.toString).withColumn("_id", lit(n.toString)) }
    val ups = (edited +: clones).reduce(_ unionByName _)
      .withColumn("_op", lit("upsert"))
    write(ups.unionByName(docs.filter(id.isin(strs(del): _*))
      .withColumn("_op", lit("delete"))).orderBy("_op", "_id"), path)
    // one customer row and two tags per document, plus its lineitems
    val childRows = spark.read.parquet(path).filter(col("_op") === "upsert")
      .select(sum(size(col("lineitems")) + 3)).head().getLong(0)
    Feed(flat, arr, del, src, inserted, prio, childRows)
  }
}
