package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point, launched by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --run-dir DIR --launch-ms EPOCH_MS --cpus N
  *     --expected FILE [--spans FILE] [--calibrate OUT_DIR]
  *
  * Prints `PERFBENCH_DETAIL {...}` and, last, `PERFBENCH_RESULT {...}`.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def line(tag: String, fields: (String, Any)*): Unit =
    println(s"$tag ${json.writeValueAsString(ListMap(fields: _*))}")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Harness.workloads.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}; one of ${Harness.workloads.keys.mkString(", ")}"))
    val cpus = a("cpus").toInt
    val trace = a.get("trace").contains("1")
    val runDir = a("run-dir")
    // expected.json: {"<op>/<output>": [rows, "digest"], ...}
    val expected: Map[String, (Long, String)] = a.get("expected").filter(p => Files.exists(Paths.get(p)))
      .map(p => json.readTree(Paths.get(p).toFile).properties().asScala
        .map(e => e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)).toMap)
      .getOrElse(Map.empty)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      // bound the in-memory status stores, so retained heap does not
      // grow with the number of operations a run happens to fit
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "20")
      // Spark's default 100-entry codegen cache holds fewer classes than
      // one pass compiles, so hits would depend on the seeded order; a
      // cache that holds them all makes warm passes compile nothing
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextS = (System.currentTimeMillis() - a("launch-ms").toLong) / 1e3

    val h = new Harness(spark, w, a("seed").toLong, a("data"), runDir, expected,
      calibrate = a.contains("calibrate"))
    a.get("calibrate") match {
      case Some(out) =>
        h.calibrateOnce(out)
        line("PERFBENCH_CALIBRATE", h.outputs.toSeq.map { case (k, o) => k -> Seq(o.rows, o.digest) }: _*)
        line("PERFBENCH_ORACLES", oracles(h.ops.map(_.name)): _*)
        line("PERFBENCH_RESULT", "correct" -> h.failures.isEmpty, "attempted" -> h.attempted,
          "failed" -> h.failures.size, "metrics" -> Map.empty)
        h.failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))
      case None =>
        val setupS = contextS + h.setupSeconds()
        val retainedMb = h.measure(a("seconds").toDouble, trace)
        report(h, spark, trace, setupS, retainedMb, a.get("spans"))
    }
    spark.stop()
  }

  private def oracles(names: Seq[String]): Seq[(String, String)] = {
    val all = graft.SparkEntry.oracleSql
    val medallion = Seq("medallion.silver" -> "q_financial_silver", "medallion.gold" -> "q_financial_gold")
    names.flatMap {
      case "medallion" => medallion.map { case (k, src) => k -> all(src) }
      case n => all.get(n).map(n -> _)
    }
  }

  private def report(h: Harness, spark: SparkSession, trace: Boolean, setupS: Double,
                     retainedMb: Double, spansFile: Option[String]): Unit = {
    import Harness.{median, tail}
    val cold = h.passes.filter(_.kind == "cold")
    val warm = h.passes.filter(p => p.kind == "warm" && !p.traced)
    val traced = h.passes.filter(_.traced)
    val warmOps = warm.flatMap(_.ops).toSeq
    val (tailS, tailPct, tailN) = tail(warmOps.map(_.wallS))
    val opMedians = warmOps.groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (n, rs) => n -> median(rs.map(_.wallS)) }
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "cold_pass_s" -> (median(cold.map(_.wallS).toSeq), "s"),
      "warm_pass_s" -> (median(warm.map(_.wallS).toSeq), "s"),
      // typical operation latency: the geometric mean of each operation's
      // median, which averages out per-operation noise that the median
      // of a handful of operations would pass through
      "op_geomean_s" -> (math.exp(opMedians.map(m => math.log(m._2)).sum / opMedians.size), "s"),
      "mem_retained_mb" -> (retainedMb, "MB"))

    val tracedOps = traced.flatMap(_.ops).map(o => o -> Layers.of(h.recorder, o)).toSeq
    // the operation whose wall time the listeners and spans explain least
    val worst = tracedOps.map { case (o, l) => (o.name, l("unattributed_s") / math.max(1e-3, o.wallS)) }
      .maxByOption(_._2)
    val layerMetrics: Seq[(String, (Double, String))] = if (!trace) Nil else {
      val tWarm = traced.filter(_.kind == "warm")
      val tCold = traced.filter(_.kind == "cold")
      val perOp = tWarm.map(p => p.ops.map(o => Layers.of(h.recorder, o)))
      val keys = perOp.headOption.flatMap(_.headOption).map(_.keys.toSeq.sorted).getOrElse(Nil)
        .filterNot(Set("unattributed_s", "lost_reports"))
      def perPass(k: String) = median(perOp.map(_.map(_(k)).sum).toSeq)
      val unattributed = median(tWarm.map(p =>
        p.ops.map(o => Layers.of(h.recorder, o)("unattributed_s")).sum / p.ops.map(_.wallS).sum).toSeq)
      val lost = tracedOps.map(_._2("lost_reports")).sum + h.recorder.unfinishedJobs
      val batches = tWarm.flatMap(_.ops).flatMap(o => Layers.batchWalls(h.recorder, o)).toSeq
      val overhead = 100.0 * (median(tWarm.map(_.wallS).toSeq) / median(warm.map(_.wallS).toSeq) - 1)
      def unit(k: String) =
        if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
      keys.map(k => k -> (perPass(k), unit(k))) ++ Seq(
        "memo.builds" -> (median(tCold.map(_.ops.map(_.memoBuilds).sum.toDouble).toSeq), "count"),
        "memo.build_s" -> (median(tCold.map(_.ops.map(_.memoBuildS).sum).toSeq), "s"),
        "memo.cached_mb" -> (median(tCold.map(_.cachedMb).toSeq), "MB"),
        "memo.warm_builds" -> (median(tWarm.map(_.ops.map(_.memoBuilds).sum.toDouble).toSeq), "count"),
        "stream.batch_p50_s" -> (median(batches), "s"),
        "stream.batch_tail_s" -> (tail(batches)._1, "s"),
        "trace.overhead_pct" -> (overhead, "%"),
        "trace.unattributed_share" -> (unattributed, "ratio"),
        "trace.unattributed_worst_op" -> (worst.map(_._2).getOrElse(0.0), "ratio"),
        "trace.lost_events" -> (lost, "count"))
    }
    val metrics = if (trace) layerMetrics else e2e

    spansFile.foreach(f => writeSpans(h, f))
    val rt = ManagementFactory.getRuntimeMXBean
    line("PERFBENCH_DETAIL",
      "workload" -> h.w.name, "seed" -> h.seed,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_flags" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).mkString(" "),
      "spark_version" -> spark.version,
      "passes" -> h.passes.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "warmup_passes_s" -> h.passes.filter(_.kind == "warmup").map(_.wallS),
      "cold_passes_s" -> cold.map(_.wallS),
      "warm_passes_s" -> warm.map(_.wallS),
      "op_tail_s" -> tailS, "op_tail_percentile" -> tailPct, "op_tail_samples" -> tailN,
      "ops_per_s" -> warmOps.size / math.max(1e-9, warm.map(_.wallS).sum),
      "fail_rate" -> h.failures.size.toDouble / math.max(1, h.attempted),
      "op_medians_s" -> ListMap(opMedians: _*),
      "first_pass_ops_s" -> ListMap(h.passes.head.ops.sortBy(_.name).map(o => o.name -> o.wallS): _*),
      "trace_worst_op" -> worst.map(_._1).orNull,
      "failures" -> h.failures.take(20))
    line("PERFBENCH_RESULT",
      "correct" -> h.failures.isEmpty,
      "attempted" -> h.attempted,
      "failed" -> h.failures.size,
      "metrics" -> ListMap(metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*))
  }

  /** Spans as JSON lines: the harness's own, plus each Spark job,
    * planning phase and micro-batch as a child of the operation whose
    * window holds it. `self_ms` is the span minus its children. */
  private def writeSpans(h: Harness, file: String): Unit = {
    val r = h.recorder
    var next = h.spans.all.size
    val extra = scala.collection.mutable.ArrayBuffer.empty[Span]
    // the innermost harness span that holds the event's start
    def attach(name: String, s: Long, e: Long): Unit =
      h.spans.all.filter(o => s >= o.startMs && s <= o.endMs).maxByOption(_.startMs).foreach { o =>
        next += 1
        extra += Span(next, o.id, o.op, name, s, e)
      }
    r.jobs.asScala.foreach(j => attach("spark.job", j.start, j.end))
    r.phases.asScala.foreach(p => attach(s"driver.${p.name}", p.start, p.end))
    r.batches.asScala.foreach(b =>
      attach("stream.batch", b.start, b.start + b.durMs.getOrElse("triggerExecution", 0L)))
    val all = h.spans.all ++ extra
    val children = all.groupBy(_.parent)
    val lines = all.map { s =>
      val covered = Layers.unionMs(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq,
        s.startMs, s.endMs)
      json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (s.endMs - s.startMs - covered)))
    }
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.write(Paths.get(file), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
