package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: expands the driver testdata `factor`× with
  * FK-consistent key shifting, so the scale bench measures operator
  * growth on data whose statistical shape matches the original —
  * not a pathological blow-up.
  *
  * Per copy `i` of factor `F` (copy 0 is the original, bit-for-bit):
  *  - every primary key shifts by `i · span(parent)` and every foreign
  *    key shifts by the SAME span, so join fan-outs are preserved
  *    exactly (an order's lineitems follow it into its copy);
  *  - `documents.text` mutates ~30% of tokens per copy (deterministic
  *    `hash(token, copy)` coin, token → token_i). Within-copy
  *    near-duplicate structure is preserved exactly (the same tokens
  *    mutate the same way across a copy), while cross-copy Jaccard
  *    drops to ~0.5 — far under the 0.8 dedup threshold — so the
  *    near-dup PAIR count grows ~linearly with the corpus instead of
  *    quadratically (10 exact clones of every doc would square it,
  *    which measures the data, not the operator);
  *  - `embeddings.embedding` gets a small deterministic per-component
  *    perturbation (±0.01, `hash(vec_id, copy, pos)`), preserving the
  *    near-orthogonal geometry while keeping copies from being exact
  *    vector clones;
  *  - `region`/`nation` stay fixed (dimension tables: 5/25 rows at
  *    every SF, exactly like TPC-H).
  *
  * Everything is Spark-native (crossJoin against a `factor`-row copy
  * table, map-only expressions) — generating sf1 from sf0.1 is itself
  * a distributed job, so the generator scales with the source.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session("graft-scalegen")
    try generate(spark, src, out, factor) finally spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    require(factor >= 1)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t -> $out/$t.parquet")
    }
    // span = max(key)+1 per keyed table, so shifted copies never collide
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L
    val copies = spark.range(factor).toDF("__copy")
    def expand(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))
    def shift(key: String, sp: Long) = col(key) + col("__copy") * sp

    // dimensions too small to scale (TPC-H keeps them fixed)
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer"); val custSpan = span(customer, "c_custkey")
    val supplier = read("supplier"); val suppSpan = span(supplier, "s_suppkey")
    val part = read("part"); val partSpan = span(part, "p_partkey")
    val orders = read("orders"); val ordSpan = span(orders, "o_orderkey")

    write(expand(customer)
      .withColumn("c_custkey", shift("c_custkey", custSpan))
      .drop("__copy"), "customer")
    write(expand(supplier)
      .withColumn("s_suppkey", shift("s_suppkey", suppSpan))
      .drop("__copy"), "supplier")
    // part names get a copy-distinct suffix (5 edits — outside any
    // near-dup threshold): a 10× catalog is mostly NEW products, and
    // exact-clone names would make every name-similarity op measure
    // the cloning, not the operator
    write(expand(part)
      .withColumn("p_partkey", shift("p_partkey", partSpan))
      .withColumn("p_name",
        when(col("__copy") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit(" mk"),
            // hash-derived tag: copies of the same part differ from
            // each other by ~4 edits too, so clones are not near-dups
            // of their siblings either
            substring(md5(concat(col("p_name"), lit("#"), col("__copy"))), 1, 4))))
      .drop("__copy"), "part")
    write(expand(orders)
      .withColumn("o_orderkey", shift("o_orderkey", ordSpan))
      .withColumn("o_custkey", shift("o_custkey", custSpan))
      .drop("__copy"), "orders")
    write(expand(read("lineitem"))
      .withColumn("l_orderkey", shift("l_orderkey", ordSpan))
      .withColumn("l_partkey", shift("l_partkey", partSpan))
      .withColumn("l_suppkey", shift("l_suppkey", suppSpan))
      .drop("__copy"), "lineitem")

    // events: user_id shares the customer key space (the enrichment
    // join keys on it); ts stays — 10× the traffic in the same window
    val events = read("events")
    val eidSpan = span(events, "event_id")
    write(expand(events)
      .withColumn("event_id", shift("event_id", eidSpan))
      .withColumn("user_id", shift("user_id", custSpan))
      .drop("__copy"), "events")

    val docs = read("documents")
    val docSpan = span(docs, "doc_id")
    val mutated = when(col("__copy") === 0, col("text")).otherwise(
      array_join(
        transform(split(col("text"), "\\s+"), t =>
          when(pmod(hash(t, col("__copy")), lit(10)) < 3,
            concat(t, lit("_"), col("__copy"))).otherwise(t)),
        " "))
    write(expand(docs)
      .withColumn("doc_id", shift("doc_id", docSpan))
      .withColumn("text", mutated)
      .withColumn("n_chars", length(col("text")))
      .drop("__copy"), "documents")

    val emb = read("embeddings")
    val vecSpan = span(emb, "vec_id")
    val jittered = when(col("__copy") === 0, col("embedding")).otherwise(
      transform(col("embedding"), (x, p) =>
        (x + (pmod(hash(col("vec_id"), col("__copy"), p), lit(1000))
          .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")))
    write(expand(emb)
      .withColumn("vec_id", shift("vec_id", vecSpan))
      .withColumn("embedding", jittered)
      .drop("__copy"), "embeddings")
  }
}
