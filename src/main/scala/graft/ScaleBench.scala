package graft

import org.apache.spark.sql.functions.col

/** Scale-growth bench: runs the full `SparkEntry.queries` suite at the
  * driver SF and at a [[ScaleGen]]-expanded SF (default 10×) in ONE
  * JVM, and reports per-query growth ratios — the measured answer to
  * "would this plan survive a scale-up", query by query.
  *
  * Reading the ratios: data grows `factor`×, so a perfectly-linear
  * operator shows ratio ≈ factor (modulo fixed per-job overhead, which
  * makes sub-second queries read BELOW factor). Ratios well above
  * factor flag super-linear plans — unless the query's OUTPUT or
  * candidate structure legitimately grows faster (pair-producing ops
  * on a corpus whose dup groups grew with it).
  *
  * Also runs `d09`'s distributed connected-components tier explicitly
  * (`localMaxEdges = 0` forces the pointer-jumping propagation loop
  * that normally engages above 5M edges) at the scaled SF — the one
  * code path the driver's SFs never reach.
  *
  * Output: one JSON line (file + stdout) keyed per query with
  * `{base, scaled, ratio}`, plus a human table in SCALEBENCH.md via
  * tools/scalebench_md.py.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaledDir = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Harness.session("graft-scalebench")
    // SPARK_GRAFT_CHECKPOINT_DIR switches every CacheScope.cut from
    // localCheckpoint to reliable checkpoint(dir) — the multi-node
    // cluster mode — so the scale bench can measure that path too
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(spark.conf.set("spark.graft.checkpointDir", _))

    // generate the scaled SF if absent (idempotent marker: last table)
    val marker = new java.io.File(s"$scaledDir/embeddings.parquet")
    if (!marker.exists()) {
      println(s"[scalebench] generating $scaledDir = $baseDir x$factor")
      ScaleGen.generate(spark, baseDir, scaledDir, factor)
    }

    Harness.warmUp(spark)

    // uncapped: a growth ratio needs both walls whole
    def timeAt(dir: String): Seq[(String, Double, Long)] = {
      // COLD STORES before each SF pass (the pinned Bench protocol):
      // ratios must compare build-inclusive walls at BOTH factors —
      // a warm standing index at one SF and cold at the other would
      // fake a sub/super-linear serving entry
      Harness.coldStores()
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val (sec, n) = Harness.run(spark, name)(fn(spark, dir).count())
        (name, sec, n)
      }
    }

    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val base = timeAt(baseDir)
    val scaled = timeAt(scaledDir)

    // d09's distributed CC tier, which driver SFs never push past the
    // 5M-edge union-find ceiling: force it at the scaled SF
    def timedDistCC(dir: String): (Double, Long) =
      Harness.run(spark, "x_d09_distributed_cc")(operators.Dedup.dupClusters(
        operators.Dedup.ngramJaccardPairs(Tables.documents(spark, dir))
          .select(col("id_a"), col("id_b")), 0L).count())
    val (ccBaseSec, ccBaseN) = timedDistCC(baseDir)
    val (ccScaledSec, ccScaledN) = timedDistCC(scaledDir)

    // s26's audit under a PATHOLOGICALLY skewed delivery — every
    // delivery vector clones one member of one cell (the trigger
    // spec's degradation fixture, scaled): the audit wall must stay
    // ≤ linear even when the entire delivery routes to a single cell,
    // because nothing in the audit is keyed finer than (cell). The
    // index build runs OUTSIDE the timer — the audit is the operator
    // under measurement.
    def timedSkewAudit(dir: String): (Double, Long) = {
      val e = Tables.embeddings(spark, dir)
      val standing = e.filter(col("vec_id") % 5 =!= 0)
      val (cents0, asg0, _) = operators.Similarity.cellIndex(standing)
      val cents = CacheScope.persisted(cents0)
      val asg = CacheScope.persisted(asg0)
      asg.count()
      val member = asg.orderBy(col("vec_id")).head().getLong(0)
      val emb = e.filter(col("vec_id") === member)
        .select(col("embedding")).head().getSeq[Float](0).toSeq
      val skewed = e.filter(col("vec_id") % 5 === 0)
        .withColumn("embedding",
          org.apache.spark.sql.functions.typedLit(emb))
      Harness.run(spark, "x_s26_skewed_audit")(
        operators.Similarity.indexHealth(cents, asg, skewed).count())
    }
    val (skBaseSec, skBaseN) = timedSkewAudit(baseDir)
    val (skScaledSec, skScaledN) = timedSkewAudit(scaledDir)

    def d3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val scaledBy = scaled.map { case (k, v, n) => k -> (v, n) }.toMap
    val entries = base.map { case (name, bSec, bRows) =>
      val (sSec, sRows) = scaledBy(name)
      val ratio = if (bSec > 0) sSec / bSec else -1.0
      (name, bSec, sSec, ratio, bRows, sRows)
    } :+ {
      val r = if (ccBaseSec > 0) ccScaledSec / ccBaseSec else -1.0
      ("x_d09_distributed_cc", ccBaseSec, ccScaledSec, r, ccBaseN, ccScaledN)
    } :+ {
      val r = if (skBaseSec > 0) skScaledSec / skBaseSec else -1.0
      ("x_s26_skewed_audit", skBaseSec, skScaledSec, r, skBaseN, skScaledN)
    }
    val failed = entries.filter(e => e._5 < 0 || e._6 < 0).map(_._1)
    if (failed.nonEmpty)
      System.err.println(s"[scalebench] FAILED: ${failed.mkString(",")}")
    val qs = entries.map { case (name, b, s, r, bn, sn) =>
      s""""$name":{"base":${d3(b)},"scaled":${d3(s)},"ratio":${d3(r)},"rows_base":$bn,"rows_scaled":$sn}"""
    }.mkString("{", ",", "}")
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val json =
      s"""{"metric":"scale_growth","factor":$factor,"base_sf":"$baseDir","scaled_sf":"$scaledDir","protocol":"cold-stores-per-pass","load_avg_start":${d3(loadStart)},"load_avg_end":${d3(loadEnd)},"base_total_sec":${d3(base.map(_._2).sum)},"scaled_total_sec":${d3(scaled.map(_._2).sum)},"queries":$qs}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALEBENCH_OUT",
      "/tmp/graft_scalebench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    Console.out.flush()
    spark.stop()
  }
}
