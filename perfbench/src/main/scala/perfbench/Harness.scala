package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SessionMemo, SparkEntry, Tables}
import graft.etl.{Clean, Medallion}

/** The benchmark's one closed-loop client.
  *
  * A run is: set-up (SparkContext, then three timed session set-ups);
  * a JIT warm-up of whole passes in a throwaway session (the first pass
  * there is the cold-JVM pass); then one fresh `newSession()` (empty
  * SessionMemo) with a cold pass and warm passes while another one
  * still fits in `--seconds` (at least two). Each pass runs the
  * workload's operations in a seed-shuffled order. Every operation's
  * outputs are fully materialized ([[Digest.sink]]) and checked against
  * expected.json; sinks are deleted after each operation, streams
  * stopped after each pass, persisted RDDs freed with each session.
  *
  * With `--trace 1` the cold pass is traced and the warm passes run
  * untraced and traced (listeners attached) in the order U T T U, at
  * least two of each, so one run yields both the per-layer split and
  * the tracing overhead, and a drift within the run does not read as
  * overhead.
  */
object Harness {
  final case class OpRun(name: String, layer: String, startMs: Long, endMs: Long, wallS: Double,
                         ok: Boolean, memoBuilds: Int, memoBuildS: Double, codegenS: Double,
                         codegenUnits: Long, parts: Map[String, Double],
                         builds: Seq[(Long, Long)], sinks: Seq[(Long, Long)])
  final case class PassRun(id: Int, kind: String, traced: Boolean, wallS: Double,
                           ops: Seq[OpRun], cachedMb: Double)

  /** What an operation sees: its session, data and sink directories;
    * `stage` to time (and span) a named part of itself, `build` around
    * each library call that builds a frame, and `sink` to materialize. */
  final class Ctx(val s: SparkSession, val data: String, val sinkRoot: String,
                  val spans: Spans, val opId: Int, val checkPlans: Boolean) {
    val parts = mutable.LinkedHashMap.empty[String, Double]
    val builds = mutable.ArrayBuffer.empty[(Long, Long)]
    val sinks = mutable.ArrayBuffer.empty[(Long, Long)]
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try spans(name)(body) finally parts(name) = (System.nanoTime() - t0) / 1e9
    }
    private def window[T](into: mutable.ArrayBuffer[(Long, Long)], name: String)(body: => T): T = {
      val t0 = System.currentTimeMillis()
      try spans(name)(body) finally into += ((t0, System.currentTimeMillis()))
    }
    def build[T](name: String)(body: => T): T = window(builds, name)(body)
    def sink(df: DataFrame, path: Option[String] = None, skip: Set[String] = Set.empty): Digest.Out =
      window(sinks, "materialize")(Digest.sink(df, path, skip))
  }
  final case class Op(name: String, layer: String, run: Ctx => Seq[(String, Digest.Out)])
  final case class Workload(name: String, ops: () => Seq[Op])

  private def query(name: String, layer: String): Op = Op(name, layer, ctx => {
    Seq("out" -> ctx.sink(ctx.build("SparkEntry.queries")(SparkEntry.queries(name)(ctx.s, ctx.data))))
  })

  /** bronze → silver → gold through the library's public functions;
    * each layer lands as parquet and is read back by the next. */
  private val pipeline = Op("medallion", "etl", ctx => {
    val base = s"${ctx.sinkRoot}/medallion_${ctx.opId}"
    val bronze = ctx.stage("etl.bronze") {
      ctx.sink(ctx.build("Medallion.bronzeFinancial")(Medallion.bronzeFinancial(ctx.s, ctx.data)),
        Some(s"$base/bronze"))
    }
    val silver = ctx.stage("etl.silver") {
      val df = ctx.build("Clean.silver")(Clean.silver(ctx.s.read.parquet(s"$base/bronze")))
      // the money parse must be in the plan, not pruned away
      if (ctx.checkPlans && !df.queryExecution.executedPlan.toString.contains("regexp_replace"))
        throw new IllegalStateException("silver plan lost the money-parse projection")
      ctx.sink(df, Some(s"$base/silver"), skip = Set("ingestion_date"))
    }
    val gold = ctx.stage("etl.gold") {
      ctx.sink(ctx.build("Medallion.goldMart")(Medallion.goldMart(ctx.s.read.parquet(s"$base/silver"))),
        Some(s"$base/gold"))
    }
    Seq("bronze" -> bronze, "silver" -> silver, "gold" -> gold)
  })

  /** Fixed subsets of the registry (README.md): a whole run, with its
    * JIT warm-up, has about a minute. */
  val workloads: Map[String, Workload] = Seq(
    Workload("pipelines", () => Seq(pipeline, query("q_stream_windowed", "streaming"))),
    Workload("queries", () =>
      Seq("q_sql_q3", "q_sql_q6", "q_sql_q9", "q_join_broadcast", "q_join_sortmerge",
        "q_join_range_binned").map(query(_, "ops.relational")) ++
        Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_clusters").map(query(_, "ops.text")) ++
        Seq("q_knn_native", "q_ann_ivf").map(query(_, "ops.vector")))
  ).map(w => w.name -> w).toMap

  /** Whole passes that warm the JIT before measuring: by the third,
    * pass times are within a few percent of their long-run value. */
  val jitWarmupPasses = 3

  val tableNames: Seq[String] = Tables.schemas.keys.toSeq.sorted

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples); the maximum when there are fewer
    * than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, 0.0, 0)
    else if (s.size <= 10) (s.last, 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally st.close()
    }
}

/** One run of one workload; see [[Harness]]. */
final class Harness(spark: SparkSession, val w: Harness.Workload, val seed: Long,
                    data: String, runDir: String, expected: Map[String, (Long, String)],
                    calibrate: Boolean) {
  import Harness._

  val sinkRoot = s"$runDir/sinks"
  val ops: Seq[Op] = w.ops()
  val recorder = new Recorder
  val passes = mutable.ArrayBuffer.empty[PassRun]
  val failures = mutable.ArrayBuffer.empty[String]
  val outputs = mutable.LinkedHashMap.empty[String, Digest.Out]
  var attempted = 0
  val spans = new Spans
  private var opSeq = 0

  /** A fresh session with the workload's tables resolved. */
  def session(): SparkSession = {
    val s = spark.newSession()
    tableNames.foreach(t => Tables.read(s, data, t))
    s
  }

  private def listen(s: SparkSession, on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(recorder)
      s.listenerManager.register(recorder.queryListener)
      s.streams.addListener(recorder.streamListener)
    } else {
      spark.sparkContext.removeSparkListener(recorder)
      s.listenerManager.unregister(recorder.queryListener)
      s.streams.removeListener(recorder.streamListener)
    }

  /** Frees every persisted RDD and sink a session left behind. */
  def cleanup(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    rmTree(Paths.get(sinkRoot))
  }

  // java.util.Random's first draws from nearby seeds are correlated, so
  // every pass draws its order from one stream whose seed is mixed first
  private val orderRng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
  def order(): Seq[Op] = orderRng.shuffle(ops)

  def runOp(s: SparkSession, op: Op, kind: String): OpRun = {
    opSeq += 1
    attempted += 1
    val ctx = new Ctx(s, data, sinkRoot, spans, opSeq, checkPlans = kind == "warmup" || calibrate)
    val memo0 = SessionMemo.buildTimes(s)
    val cg0 = CodeGenerator.compileTime
    val cu0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result =
      try Right(spans.inOp(opSeq)(spans(op.name)(op.run(ctx))))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val memo = SessionMemo.buildTimes(s).filter { case (k, _) => !memo0.contains(k) }
    val error = result match {
      case Left(e) => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      case Right(outs) =>
        outs.flatMap { case (label, out) =>
          val key = s"${op.name}/$label"
          outputs(key) = out
          expected.get(key) match {
            case _ if calibrate => None
            case Some((rows, digest)) if rows == out.rows && digest == out.digest => None
            case Some((rows, digest)) =>
              Some(s"$key: got rows=${out.rows} digest=${out.digest}, expected rows=$rows digest=$digest")
            case None => Some(s"$key: no expected value")
          }
        }.mkString("; ")
    }
    if (error.nonEmpty) failures += s"${op.name}: $error"
    if (!calibrate) rmTree(Paths.get(sinkRoot))
    OpRun(op.name, op.layer, ms0, ms1, wall, error.isEmpty,
      // builds nest (an index build resolves its own inputs through the
      // memo), so the largest one stands for the operation's build time
      memo.size, memo.values.maxOption.getOrElse(0.0), (CodeGenerator.compileTime - cg0) / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cu0, ctx.parts.toMap, ctx.builds.toSeq, ctx.sinks.toSeq)
  }

  def runPass(s: SparkSession, kind: String, traced: Boolean): PassRun = {
    val id = passes.size
    if (traced) listen(s, on = true)
    spans.enabled = traced
    val t0 = System.nanoTime()
    val runs = order().map(runOp(s, _, kind))
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) {
      // events reach listeners asynchronously; deliver the pass's last
      // ones before detaching, or its final operation loses them
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      listen(s, on = false)
    }
    s.streams.active.foreach(_.stop())
    val cached = s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val p = PassRun(id, kind, traced, wall, runs, cached)
    passes += p
    p
  }

  /** Median seconds of three session set-ups. */
  def setupSeconds(): Double =
    median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      session()
      (System.nanoTime() - t0) / 1e9
    })

  /** The JIT warm-up, the cold pass, then warm passes while another
    * one still fits in `seconds`. Returns the heap retained at the end,
    * MB. */
  def measure(seconds: Double, trace: Boolean): Double = {
    val w = session()
    (1 to jitWarmupPasses).foreach(_ => runPass(w, "warmup", traced = false))
    cleanup(w)
    val s = session()
    runPass(s, "cold", trace)
    val minWarm = if (trace) 4 else 2
    var used = 0.0
    var last = 0.0
    var n = 0
    while (n < minWarm || used + last <= seconds) {
      last = runPass(s, "warm", trace && (n % 4 == 1 || n % 4 == 2)).wallS
      used += last
      n += 1
    }
    val retainedMb = heapAfterGcMb()
    cleanup(s)
    retainedMb
  }

  /** Heap in use once full collections stop freeing anything, MB. */
  def heapAfterGcMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    // the ContextCleaner frees blocks of collected frames after a GC,
    // so collect until two rounds in a row free nothing
    var last = Long.MaxValue
    var now = { System.gc(); used }
    var stable = 0
    while (stable < 2) {
      if (now < last * 0.99) stable = 0 else stable += 1
      last = now
      Thread.sleep(200)
      System.gc()
      now = used
    }
    now / 1048576.0
  }

  /** Every output once, in name order, for the expected-value dump. */
  def calibrateOnce(outDir: String): Unit = {
    val s = session()
    ops.sortBy(_.name).foreach { op =>
      val r = runOp(s, op, "cold")
      if (r.ok) op.name match {
        case "medallion" =>
          Seq("silver", "gold").foreach { l =>
            val src = s"$sinkRoot/medallion_$opSeq/$l"
            s.read.parquet(src).drop("ingestion_date").coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/medallion.$l")
          }
        case q =>
          SparkEntry.queries(q)(s, data).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$q")
      }
    }
    cleanup(s)
  }
}
