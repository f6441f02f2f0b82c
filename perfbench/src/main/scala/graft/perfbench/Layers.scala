package graft.perfbench

import Workloads.{OpRec, Runner, median}

/** Per-layer metrics of a traced run, per measured pass (per load on
  * `load`). Every metric is printed on every workload; a layer the
  * workload does not reach reads 0. */
object Layers {

  val modules: Seq[String] = Seq("relational", "relational2", "discogsstar", "dedup",
    "textanalysis", "multimodal", "similarity", "retrieval", "curation")

  def metrics(t: Trace, runner: Runner, measured: Seq[OpRec], passes: Seq[Double],
      untracedPass: Double, extra: Map[String, (Double, String)])
      : Seq[(String, (Double, String))] = {
    val n = math.max(1, passes.size).toDouble
    val perModule = modules.flatMap { m =>
      val ops = measured.filter(_.module == m)
      val ls = ops.map(t.layers)
      Seq(
        s"$m.wall_s" -> (ls.map(_.wall).sum / n, "s"),
        s"$m.plan_s" -> ((ls.map(_.planS).sum + ops.map(_.extra.getOrElse("plan_s", 0.0)).sum) / n, "s"),
        s"$m.jobs" -> (ls.map(_.jobs).sum / n, "count"),
        s"$m.busy_s" -> (ls.map(_.busy).sum / n, "s"),
        s"$m.idle_s" -> (ls.map(l => l.wall - l.busy).sum / n, "s"),
        s"$m.executor_cpu_s" -> (ls.map(_.cpuS).sum / n, "s"),
        s"$m.single_task_stages" -> (ls.map(_.singleTaskStages).sum / n, "count"),
        s"$m.shuffle_write_bytes" -> (ls.map(_.shuffleWrite).sum / n, "B"),
        s"$m.spill_bytes" -> (ls.map(_.spill).sum / n, "B"))
    }
    // the load path: stages of DiscogsLoad.run that write files are the
    // sink; every other stage of it parses, normalizes and dedups
    val runs = measured.filter(_.name == "discogsload.run").map(t.layers)
    val copies = measured.filter(_.name.startsWith("copy."))
    val loads = math.max(1, runs.size).toDouble
    def per(xs: Seq[Double]) = xs.sum / loads
    val gz = extra.get("gz_bytes").map(_._1).getOrElse(0.0)
    val loadPath = Seq(
      "discogsxml.parse_s" -> (per(runs.map(l =>
        t.union(l.stages.filter(_.outputBytes == 0).map(s => (s.start, s.end))))), "s"),
      "discogsxml.input_read_ratio" ->
        (if (gz > 0) per(runs.map(_.inputBytes.toDouble)) / gz else 0.0, "ratio"),
      "discogsxml.dedup_shuffle_write_bytes" -> (per(runs.map(l =>
        l.stages.filter(_.inputBytes > 0).map(_.shuffleWrite).sum.toDouble)), "B"),
      "sinks.write_s" -> (per(runs.map(l =>
        t.union(l.stages.filter(_.outputBytes > 0).map(s => (s.start, s.end))))), "s"),
      "sinks.bytes_written" -> (per(runs.map(_.outputBytes.toDouble)), "B"),
      "sinks.files_written" -> (extra.get("sinks.files_written").map(_._1).getOrElse(0.0), "count"),
      "pgbinarycopy.encode_s" -> (per(copies.map(_.wall)), "s"),
      "pgbinarycopy.bytes" -> (per(copies.map(_.extra.getOrElse("bytes", 0.0))), "B"),
      "discogsload.jobs" -> (per(runs.map(_.jobs.toDouble)), "count"),
      "discogsload.idle_s" -> (per(runs.map(l => l.wall - l.busy)), "s"))
    val shared = Seq(
      "indexstore.build_s" -> extra.getOrElse("indexstore.build_s", (0.0, "s")),
      "indexstore.artifacts_rebuilt" ->
        extra.getOrElse("indexstore.artifacts_rebuilt", (0.0, "count")),
      "cachescope.peak_cached_bytes" -> (runner.peakCached.toDouble, "B"),
      "cachescope.blocks_left_after_release" -> (runner.blocksLeft.toDouble, "count"),
      "tracing.overhead_ratio" ->
        (if (untracedPass > 0) median(passes) / untracedPass - 1 else 0.0, "ratio"))
    perModule ++ loadPath ++ shared
  }
}
