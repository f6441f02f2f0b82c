package graft

import graft.TestDirs.{atIndexRoot, withIndexRoot}
import graft.sources.IndexStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The standing-index lifecycle: a saved ANN index must serve results
  * IDENTICAL to an inline rebuild, its layout must actually prune
  * (cell partitions, src/bh buckets), and a stale artifact must be
  * detected and rebuilt — silently mis-serving from an old index is
  * the failure mode this store exists to prevent.
  */
class IndexStoreSpec extends AnyFunSuite with SuiteTempDir {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  /** The index root the first tests share: the first builds, the later
    * ones serve or rebuild what it saved. */
  private lazy val specRoot = suiteTempDir("graft_index_spec")

  /** Where the managed table `name` lives: under the session's
    * warehouse. */
  private def warehouseDir(name: String): java.io.File = new java.io.File(
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath, name)

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = warehouseDir(name)
    if (loc.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(loc)
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("saved cell index serves bit-identical results to the inline build") {
    atIndexRoot(specRoot) {
      val inline = rowSet(SparkEntry.queries("s23_cell_search")(spark, sfDir))
      CacheScope.releaseAll()
      // first call: fingerprint miss → build + save + read back
      val first = rowSet(SparkEntry.queries("s25_standing_search")(spark, sfDir))
      CacheScope.releaseAll()
      assert(first == inline, "save/load/serve diverged from the inline build")
      // second call: fingerprint hit → pure load; the plans must be
      // parquet scans of the artifact, not a rebuild
      val e = Tables.embeddings(spark, sfDir)
      // same pinned sizing as the s25 entry — a different nCells is a
      // different fingerprint and would rebuild instead of warm-serving
      val (_, _, _, graph) = IndexStore.ensureCellIndex(spark, sfDir, e,
        nCells = operators.Similarity.IvfNCells)
      val p = graph.queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet") &&
        p.contains("graft_index_spec"),
        s"warm ensure did not serve from the saved artifact:\n$p")
      val second = rowSet(SparkEntry.queries("s25_standing_search")(spark, sfDir))
      CacheScope.releaseAll()
      assert(second == inline)
    }
  }

  test("fingerprint sees content: swapping two embeddings changes it") {
    // a sum-based fingerprint (count + Σid + Σ first-dim mass) is
    // blind to edits that preserve those sums — swapping two rows'
    // embeddings is exactly such an edit, and a blind fingerprint
    // would silently serve the stale index over the edited corpus
    val e = Tables.embeddings(spark, sfDir)
    val fp = IndexStore.corpusFingerprint(e)
    val ids = e.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(2).collect().map(_.getLong(0))
    val (a, b) = (ids(0), ids(1))
    val embOf = e.filter(col("vec_id").isin(a, b))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(embOf(a) != embOf(b),
      "fixture degenerate: the two probe vectors are identical")
    val swapped = e.withColumn("embedding",
      when(col("vec_id") === a, typedLit(embOf(b)))
        .when(col("vec_id") === b, typedLit(embOf(a)))
        .otherwise(col("embedding")))
    assert(IndexStore.corpusFingerprint(swapped) != fp,
      "sum-preserving content edit went undetected — a stale index " +
        "would be served over the edited corpus")
  }

  test("registerKnnGraph refuses to drop a managed table") {
    dropTable("knn_guard_spec")
    val g = spark.range(8).selectExpr("id AS src", "0L AS rk",
      "id + 1 AS dst", "1L AS d2")
    IndexStore.saveKnnGraph(g, "knn_guard_spec", buckets = 2)
    val path = warehouseDir("knn_guard_spec").getAbsolutePath
    // re-registering over the MANAGED table saveKnnGraph created would
    // DROP-delete the very files being registered — must refuse
    val ex = intercept[IllegalArgumentException] {
      IndexStore.registerKnnGraph(spark, "knn_guard_spec", path, buckets = 2)
    }
    assert(ex.getMessage.contains("MANAGED"))
    // the refusal must leave the table and its data intact
    assert(spark.table("knn_guard_spec").count() == 8)
    dropTable("knn_guard_spec")
  }

  test("stale fingerprint forces a rebuild; fresh one is reused") {
    atIndexRoot(specRoot) {
      val e = Tables.embeddings(spark, sfDir)
      val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
      val metaPath = java.nio.file.Paths.get(
        s"${IndexStore.root}/$key/_graft_meta")
      IndexStore.ensureCellIndex(spark, sfDir, e)
      CacheScope.releaseAll()
      val good = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
      // corrupt the fingerprint: the next ensure must rebuild and restore it
      java.nio.file.Files.write(metaPath, "stale".getBytes("UTF-8"))
      IndexStore.ensureCellIndex(spark, sfDir, e)
      CacheScope.releaseAll()
      val after = new String(java.nio.file.Files.readAllBytes(metaPath), "UTF-8")
      assert(after == good, "stale index was not rebuilt")
    }
  }

  test("cell-partitioned graph scan prunes to the probed cells") {
    atIndexRoot(specRoot) {
      val e = Tables.embeddings(spark, sfDir)
      val (_, _, _, graph) = IndexStore.ensureCellIndex(spark, sfDir, e)
      val pruned = graph.filter(col("cell") === 3)
      val p = pruned.queryExecution.executedPlan.toString
      // the cell filter must land in PartitionFilters (directory-level
      // skip), not in the data filters of a full scan
      assert(p.contains("PartitionFilters: [isnotnull(cell"),
        s"cell filter not pushed to partition pruning:\n$p")
      assert(pruned.count() > 0)
      CacheScope.releaseAll()
    }
  }

  test("bucketed kNN graph aggregates and re-registers without exchanges") {
    dropTable("knn_idx_spec")
    val g = operators.Similarity.nnDescent(Tables.embeddings(spark, sfDir))
      .select(col("vec_id").as("src"), col("rk"), col("nn_id").as("dst"),
        col("d2"))
    IndexStore.saveKnnGraph(g, "knn_idx_spec", buckets = 4)
    CacheScope.releaseAll()
    val agg = spark.table("knn_idx_spec").groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"src aggregation over the bucketed graph still shuffles:\n$p")
    val saved = rowSet(spark.table("knn_idx_spec"))
    // a fresh session only has the files — re-attaching the bucket
    // spec must restore the exchange-free plan AND the same rows
    val path = warehouseDir("knn_idx_spec").getAbsolutePath
    IndexStore.registerKnnGraph(spark, "knn_idx_reg", path, buckets = 4)
    val agg2 = spark.table("knn_idx_reg").groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
    val p2 = agg2.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange hashpartitioning"),
      s"re-registered graph lost its bucketing:\n$p2")
    assert(rowSet(spark.table("knn_idx_reg")) == saved)
    spark.sql("DROP TABLE IF EXISTS knn_idx_reg")
  }

  test("s21/s24 serve from the standing kNN graph: saved ≡ rebuilt, " +
      "warm plan reads the bucketed artifact") {
    atIndexRoot(specRoot) {
      val e = Tables.embeddings(spark, sfDir)
      // inline library paths — the ground truth the artifact must equal
      val s21Inline = rowSet(operators.Similarity.graphSearch(e))
      CacheScope.releaseAll()
      val s24Inline = rowSet(operators.Similarity.incrementalGraph(e))
      CacheScope.releaseAll()
      // wired suite paths: first call builds + saves, rows must match
      val s21Wired = rowSet(SparkEntry.queries("s21_graph_search")(spark, sfDir))
      CacheScope.releaseAll()
      assert(s21Wired == s21Inline,
        "s21 served from the saved graph diverged from the inline build")
      val s24Wired = rowSet(
        SparkEntry.queries("s24_incremental_graph")(spark, sfDir))
      CacheScope.releaseAll()
      assert(s24Wired == s24Inline,
        "s24 maintaining the saved graph diverged from the inline build")
      // warm ensure is a pure load: the graph frame must be a FileScan
      // of the bucketed catalog table, with no NN-descent stages
      val g = operators.Similarity.standingKnnGraph(spark, sfDir, "m5",
        e.filter(col("vec_id") % 5 =!= 0))
      val p = g.queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet") && p.contains("graft_knn_"),
        s"warm standing graph is not a read of the saved artifact:\n$p")
      // the maintenance side's src-keyed work over the artifact is
      // exchange-free — the bucketed layout doing its job
      val agg = g.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val pa = agg.queryExecution.executedPlan.toString
      assert(!pa.contains("Exchange hashpartitioning"),
        s"src-keyed aggregation over the saved graph still shuffles:\n$pa")
      CacheScope.releaseAll()
    }
  }

  test("re-pointing the root cannot pair a meta with another root's " +
      "table") {
    // the kNN-graph meta lives under IndexStore.root but the catalog
    // table is named in the shared session warehouse: un-tagged, a
    // meta hit under root A could pair with a table last built under
    // root B for a DIFFERENT corpus state — a stale graph served with
    // no rebuild. The table name is tagged with its root, so each
    // root owns its tables.
    val rootA = suiteTempDir("graft_index_rootiso_a").getPath
    val rootB = suiteTempDir("graft_index_rootiso_b").getPath
    val e = Tables.embeddings(spark, sfDir)
    def corpus(m: Int) = e.filter(col("vec_id") % 3 === m)
    def build(c: org.apache.spark.sql.DataFrame) =
      c.select(col("vec_id").as("src"), lit(1).as("rk"),
        (col("vec_id") + 1).as("dst"), lit(0L).as("d2"))
    val prior = IndexStore.root
    try {
      IndexStore.root = rootA
      val a1 = rowSet(IndexStore.ensureKnnGraph(spark, "rootiso",
        corpus(0), "p", build))
      // same KEY, different root, different corpus — must not touch A
      IndexStore.root = rootB
      IndexStore.ensureKnnGraph(spark, "rootiso", corpus(1), "p", build)
      // back under A with A's corpus: the meta hit must resolve to
      // A's OWN table, not the one B just (re)built
      IndexStore.root = rootA
      val a2 = rowSet(IndexStore.ensureKnnGraph(spark, "rootiso",
        corpus(0), "p", build))
      assert(a1 == rowSet(build(corpus(0))), "A's first build is wrong")
      assert(a2 == a1,
        "root A's meta hit served root B's table — stale cross-root serve")
    } finally { IndexStore.root = prior }
  }

  test("a kNN-graph meta hit whose table files are gone rebuilds") {
    // the meta under IndexStore.root outlives the warehouse table (a
    // fresh checkout, a dropped table): re-registering the missing
    // location would fail with PATH_NOT_FOUND instead of rebuilding
    val e = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 4 === 0)
    def build(c: org.apache.spark.sql.DataFrame) =
      c.select(col("vec_id").as("src"), lit(1).as("rk"),
        (col("vec_id") + 1).as("dst"), lit(0L).as("d2"))
    val prior = IndexStore.root
    try {
      IndexStore.root = suiteTempDir("graft-knnlost").getPath
      val first = rowSet(IndexStore.ensureKnnGraph(spark, "knnlost", e, "p",
        build, buckets = 2))
      val table = spark.catalog.listTables().collect().map(_.name)
        .filter(_.endsWith("_knnlost"))
      assert(table.length == 1, s"expected one knnlost table: ${table.toSeq}")
      // a managed table: the drop deletes its files, the meta stays
      spark.sql(s"DROP TABLE ${table.head}")
      val again = rowSet(IndexStore.ensureKnnGraph(spark, "knnlost", e, "p",
        build, buckets = 2))
      assert(first == rowSet(build(e)), "the first build is wrong")
      assert(again == first, "the rebuilt graph differs from the first")
      spark.sql(s"DROP TABLE IF EXISTS ${table.head}")
    } finally { IndexStore.root = prior }
  }

  test("band index probe prunes to one bucket on an equality probe") {
    dropTable("band_idx_spec")
    val docs = Tables.documents(spark, sfDir)
    import graft.functions.TextHashFunctions.minhash_bands
    val idx = docs.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id").as("corpus_id"),
        explode(array_distinct(minhash_bands(
          split(lower(col("text")), "\\s+"), 16, 4))).as("bh"))
    IndexStore.saveBandIndex(idx, "band_idx_spec", buckets = 8)
    val one = idx.select(col("bh")).head().getLong(0)
    // autoBucketedScan drops the bucketed layout for filter-only plans
    // (it only scores joins/aggs); disable it so the point probe keeps
    // the layout and bucket pruning can apply — the serving-path config
    val auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(auto)
    try {
      spark.conf.set(auto, "false")
      val probe = spark.table("band_idx_spec").filter(col("bh") === one)
      val p = probe.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 8"),
        s"equality probe scanned more than one bucket:\n$p")
      assert(probe.count() > 0)
    } finally spark.conf.set(auto, prev)
    CacheScope.releaseAll()
  }

  test("a 1-vector corpus round-trips: the empty graph loads as an empty frame") {
    // a near-empty curated slice is legitimate input (p08's dirty-input
    // case found it): its search graph has NO edges, and partitionBy of
    // an empty frame writes no parquet footers -- the load must return
    // an empty frame via its explicit schema, not fail inference
    withIndexRoot("graft_index_tiny") {
      import spark.implicits._
      val one = Seq((0L, Array.fill(64)(0.25f), 1)).toDF(
        "vec_id", "embedding", "label")
      val tdir = suiteTempDir("graft-tinycorpus").toString
      one.coalesce(1).write.mode("overwrite")
        .parquet(s"$tdir/embeddings.parquet")
      val (cents, asg, entries, graph) =
        IndexStore.ensureCellIndex(spark, tdir,
          Tables.embeddings(spark, tdir), nCells = 16)
      assert(asg.count() == 1, "the single vector lost its list row")
      assert(entries.count() >= 1, "no entry point for the lone cell")
      assert(graph.count() == 0, "a 1-vector graph cannot have edges")
      // and a second resolve is a warm fingerprint HIT on the same state
      val again = IndexStore.ensureCellIndex(spark, tdir,
        Tables.embeddings(spark, tdir), nCells = 16)
      assert(again._4.count() == 0)
      CacheScope.releaseAll()
    }
  }

  test("√n-defaulted build records an adaptive nprobe recommendation; " +
      "pinned build does not; the gate survives the property line") {
    withIndexRoot("graft_index_adaptive") {
      val e = Tables.embeddings(spark, sfDir)
      // √n-defaulted (nCells omitted): the build must measure and
      // record the recommendation on the meta's second line
      IndexStore.ensureCellIndex(spark, s"${sfDir}_adp", e)
      CacheScope.releaseAll()
      val rec = IndexStore.recommendedNProbe(spark, s"${sfDir}_adp")
      val nc = operators.Similarity.servingNCells(e.count())
      assert(rec.isDefined, "√n build recorded no nprobe recommendation")
      assert(rec.get >= operators.Similarity.S23NProbe && rec.get <= nc,
        s"recommendation ${rec.get} outside [S23NProbe, $nc]")
      // the 500-vector test corpus is DIFFUSE (true neighbors straddle
      // cells) — the whole reason the static default under-served; the
      // measurement must say so
      assert(rec.get > operators.Similarity.S23NProbe,
        s"diffuse corpus recommended the static default ${rec.get} — " +
          "the measurement is not seeing corpus shape")
      // warm re-ensure: a fingerprint HIT despite the extra meta line
      // (the gate compares line 1 only), and the recommendation stays
      val (_, _, _, g2) =
        IndexStore.ensureCellIndex(spark, s"${sfDir}_adp", e)
      val p = g2.queryExecution.executedPlan.toString
      assert(p.contains("FileScan parquet") &&
        p.contains("graft_index_adaptive"),
        s"property line broke the freshness gate — warm ensure rebuilt:\n$p")
      assert(IndexStore.recommendedNProbe(spark, s"${sfDir}_adp") == rec)
      // pinned fixture build: no recommendation by design (committed
      // oracles carry the static knobs as literals)
      IndexStore.ensureCellIndex(spark, s"${sfDir}_pin", e,
        nCells = operators.Similarity.IvfNCells)
      CacheScope.releaseAll()
      assert(IndexStore.recommendedNProbe(spark, s"${sfDir}_pin").isEmpty,
        "a pinned build must not carry a recommendation")
      // resolution order: explicit > conf > artifact meta > static
      assert(operators.Similarity.nProbeOf(spark, 3, Some(12)) == 3)
      assert(operators.Similarity.nProbeOf(spark, -1, Some(12)) == 12)
      spark.conf.set("spark.graft.ann.nprobe", "4")
      try assert(operators.Similarity.nProbeOf(spark, -1, Some(12)) == 4)
      finally spark.conf.unset("spark.graft.ann.nprobe")
      assert(operators.Similarity.nProbeOf(spark, -1, None) ==
        operators.Similarity.S23NProbe)
    }
  }

  test("adaptiveNProbe reads corpus shape: clustered corpora keep the " +
      "static default, diffuse corpora raise it") {
    import spark.implicits._
    // clone-clustered: 16 tight clusters of 20 near-identical vectors
    // (the ScaleGen 100 TB shape) — truth lives in the query's own
    // cell, so the measured need clamps at the static floor
    val rnd = new scala.util.Random(7)
    val clustered = (0 until 320).map { i =>
      val c = i % 16
      (i.toLong, Array.tabulate(8)(d =>
        (if (d == c % 8) 10f * (1 + c / 8) else 0f) +
          rnd.nextFloat() * 0.01f), c)
    }.toDF("vec_id", "embedding", "label")
    val ic = operators.Similarity.servingIndex(clustered, 16)
    val pc = operators.Similarity.adaptiveNProbe(ic._1, ic._2)
    CacheScope.releaseAll()
    assert(pc == operators.Similarity.S23NProbe,
      s"clustered corpus recommended $pc — probe work wasted at scale")
    // diffuse: uniform random vectors in HIGH dimension (the sf
    // tables' 64-dim shape — in low dimension Voronoi cells genuinely
    // capture neighborhoods and a low recommendation is CORRECT; in
    // high dimension true neighbors straddle the coarse cells and the
    // recommendation must climb toward the covering fraction)
    val diffuse = (0 until 320).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f), 0)
    }.toDF("vec_id", "embedding", "label")
    val id = operators.Similarity.servingIndex(diffuse, 16)
    val pd = operators.Similarity.adaptiveNProbe(id._1, id._2)
    CacheScope.releaseAll()
    assert(pd > operators.Similarity.S23NProbe,
      s"diffuse corpus recommended $pd — recall will sit at the " +
        "static default's floor")
  }

  test("filesIdentity: one line per visible file, nested ones included, in path order") {
    TestDirs.withTempDir("graft-identity") { dir =>
      def put(rel: String, body: String): java.io.File = {
        val f = new java.io.File(dir, rel)
        f.getParentFile.mkdirs()
        java.nio.file.Files.writeString(f.toPath, body)
        f
      }
      val visible = Seq(put("b.parquet", "bb"), put("a.parquet", "a"),
        put("sub/c.parquet", "ccc"), put("_hidden/d.parquet", "dddd"))
      put("_SUCCESS", "")
      put(".a.parquet.crc", "x")
      put("sub/_SUCCESS", "")
      val want = visible.sortBy("file:" + _.getPath)
        .map(f => s"file:${f.getPath}|${f.length}|${f.lastModified}\n").mkString
      assert(IndexStore.filesIdentity(spark, Seq(dir.getPath)) == want)
      // a file named on its own stands for itself, as given
      val one = visible.head
      assert(IndexStore.filesIdentity(spark, Seq(one.getPath)) ==
        s"${one.getPath}|${one.length}|${one.lastModified}\n")
    }
  }
}
