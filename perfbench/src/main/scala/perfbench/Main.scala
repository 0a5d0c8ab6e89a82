package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.{GraftSession, SparkEntry}
import graft.api.Oec
import graft.cube.{CubeQuery, Engine}
import graft.functions.{TextAnalysis, TextExpressions, VectorExpressions}
import graft.operators.{Corpus, Dedup, Scratch, Similarity}

/** Timing of one call: build the answer, plan it (traced cube calls
  * only), materialize it.
  */
final case class CallRec(id: String, buildNs: Long, planNs: Long, execNs: Long, error: Option[String]) {
  def latencyNs: Long = buildNs + planNs + execNs
}

/** One pass: `no` numbers its call order, `plan` sums the shapes of the
  * plans it executed (traced passes only).
  */
final case class PassRec(
    no: Int, traced: Boolean, t0Ms: Long, t1Ms: Long, wallS: Double, load1m: Double,
    calls: Seq[CallRec], released: Int, releaseNs: Long, spans: Seq[Span],
    plan: PlanShape = PlanShape.zero)

/** A workload is a list of calls per pass, and a way to run one call. */
trait Workload {
  /** Work that precedes the first pass and counts toward set-up. */
  def prepare(): Unit = ()

  /** Calls of pass `p`. Passes are numbered from 0, warm-up included. */
  def calls(p: Int): Seq[String]

  /** Runs at the start of each pass, inside its timed window. */
  def beginPass(): Unit = ()

  /** Runs one call. `dump` names the pass whose answers the oracle
    * checks; the answer is then kept or written where the oracle reads
    * it. Otherwise it is materialized the way a caller consumes it.
    */
  def run(id: String, dump: Option[String], tracer: Tracer): CallRec

  /** One record per dumped answer, as the oracle check reads it. */
  def oracleRecords(): Seq[Map[String, Any]]
}

/** `oec_calls`: the seeded cube-call stream, every answer collected. */
final class CubeWorkload(spark: SparkSession, dir: String, seed: Long) extends Workload {
  private val oec = new Oec(spark, dir)
  private val engine = new Engine(spark, dir)
  private var stream: IndexedSeq[CubeCall] = IndexedSeq.empty
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, (CubeCall, Array[Row], Seq[(String, String)])]

  override def prepare(): Unit = {
    val members = CubeCalls.Block.flatMap(s => s.cut.map(s.cube -> _)).distinct.map {
      case (cube, l) =>
        val rows = oec.getMembers(Map("cube" -> cube, "level" -> l)).collect()
        (cube, l) -> rows.map(_.get(0).toString).toSeq
    }.toMap
    stream = CubeCalls.generate(seed, 400, members).toIndexedSeq
  }

  private val byId = scala.collection.mutable.Map.empty[String, CubeCall]

  def calls(p: Int): Seq[String] = {
    val n = CubeCalls.Block.size
    val cs = stream.slice(p * n, (p + 1) * n)
    cs.foreach(c => byId(c.id) = c)
    cs.map(_.id)
  }

  private def build(c: CubeCall): DataFrame = c.api match {
    case "oec.getData" =>
      oec.getData(auth = false, cube = c.cube, drilldown = c.drilldowns,
        measure = c.measures, token = None, cut = c.cuts)
    case "oec.getMembers" => oec.getMembers(Map("cube" -> c.cube, "level" -> c.level))
    case "engine.getData" =>
      engine.getData(CubeQuery(c.cube, c.drilldowns, c.measures, c.cuts, c.range.toMap))
    case "engine.getDataMulti" =>
      engine.getDataMulti(CubeQuery(c.cube, Nil, c.measures, c.cuts, c.range.toMap), c.sets)
  }

  def run(id: String, dump: Option[String], tracer: Tracer): CallRec = {
    val c = byId(id)
    val t0 = System.nanoTime()
    try {
      val df = tracer.span("cube", s"build ${c.api}", id)(build(c))
      val t1 = System.nanoTime()
      if (tracer.enabled) tracer.span("cube", "plan", id)(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = tracer.span("cube", "collect", id)(df.collect())
      val t3 = System.nanoTime()
      if (dump.isDefined) results(id) = (c, rows,
        df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq)
      CallRec(id, t1 - t0, t2 - t1, t3 - t2, None)
    } catch { case e: Exception =>
      CallRec(id, System.nanoTime() - t0, 0, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  def oracleRecords(): Seq[Map[String, Any]] = results.values.map { case (c, rows, schema) =>
    Map(
      "id" -> c.id,
      "call" -> c.toString,
      "sql" -> CubeSpace.sql(c),
      "columns" -> schema.map { case (n, t) => Seq(n, t, CubeSpace.tolerance(c, n)) },
      "rows" -> rows.toSeq.map(_.toSeq.map(Json.cell)))
  }.toSeq
}

/** `curation_etl`: registered queries, every answer materialized
  * through a noop write.
  */
final class QueryWorkload(spark: SparkSession, dir: String, seed: Long, out: String,
    prefixes: Seq[String]) extends Workload {
  private val names = QueryLists.resolve(prefixes, SparkEntry.queries.keys)
  private val dumped = ArrayBuffer.empty[(String, String)]

  def calls(p: Int): Seq[String] = QueryLists.order(names, seed, p)

  /** Session memos are cleared at each pass start, so every pass pays
    * the shared pipelines its first consumer builds.
    */
  override def beginPass(): Unit = {
    Dedup.invalidateSharedPairs(spark)
    Similarity.invalidateIndexes(spark)
    Corpus.invalidateSharedCounts(spark)
  }

  /** Where the oracle reads a dumped answer: one directory per pass and
    * query, named the way tools/check.py expects.
    */
  private def key(pass: String, id: String) = s"${pass}__$id"

  def run(id: String, dump: Option[String], tracer: Tracer): CallRec = {
    val t0 = System.nanoTime()
    try {
      val df = tracer.span("entry", "build", id)(SparkEntry.queries(id)(spark, dir))
      val t1 = System.nanoTime()
      tracer.span("entry", "materialize", id) {
        dump match {
          case Some(p) => df.write.mode("overwrite").parquet(s"$out/oracle/${key(p, id)}")
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
      val t2 = System.nanoTime()
      dump.foreach(p => dumped += p -> id)
      CallRec(id, t1 - t0, 0, t2 - t1, None)
    } catch { case e: Exception =>
      CallRec(id, System.nanoTime() - t0, 0, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  def oracleRecords(): Seq[Map[String, Any]] = dumped.toSeq.map { case (p, id) =>
    Map("id" -> id, "pass" -> p, "key" -> key(p, id),
      "sql" -> SparkEntry.oracleSql.getOrElse(id, ""))
  }
}

object Main {
  /** Cores of the local session: one client thread drives a 4-core engine. */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1).max(0))
  }

  /** Warm-up runs passes until one is within `LevelOff` of the pass
    * before it, at most `MaxWarmPasses`. The first, cold pass is always
    * far off, so at least two run.
    */
  val LevelOff = 0.10
  val MaxWarmPasses = 3
  /** Fewest measured passes: wall_s is their median. */
  val MinPasses = 3

  def leveled(passes: Seq[PassRec]): Boolean = passes.size >= 2 && {
    val Seq(a, b) = passes.takeRight(2).map(_.wallS)
    math.abs(b - a) <= LevelOff * a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val tracer = new Tracer(false)
    val setupT0 = System.nanoTime()
    val spark = GraftSession.local(Cores)
    val createS = (System.nanoTime() - setupT0) / 1e9
    val wl: Workload = a.workload match {
      case "oec_calls" => new CubeWorkload(spark, a.data, a.seed)
      case "curation_etl" => new QueryWorkload(spark, a.data, a.seed, a.out, QueryLists.curationEtl)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val counters = new Counters(spark)

    var passNo = 0

    def pass(dump: Boolean, traced: Boolean): PassRec = {
      val no = passNo
      passNo += 1
      val ids = wl.calls(no)
      tracer.enabled = traced
      tracer.clear()
      if (traced) counters.attach()
      val load = GraftSession.loadAvg1m()
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var released = 0
      var releaseNs = 0L
      val recs = tracer.span("harness", "pass") {
        tracer.span("operators", "memo.invalidate")(wl.beginPass())
        ids.map { id =>
          val r = wl.run(id, if (dump) Some(s"p$no") else None, tracer)
          val r0 = System.nanoTime()
          released += tracer.span("scratch", "releaseAll", id)(Scratch.releaseAll(spark))
          releaseNs += System.nanoTime() - r0
          r
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1Ms = System.currentTimeMillis()
      var plan = PlanShape.zero
      if (traced) {
        counters.drain()
        counters.detach()
        plan = counters.planTotal
        // Spark jobs become child spans of the call that ran them
        val offNs = t0 - t0Ms * 1000000L
        counters.jobsIn(t0Ms, t1Ms).foreach { case (s, e) =>
          tracer.addMeasured("spark", "job", s * 1000000L + offNs, e * 1000000L + offNs)
        }
      }
      tracer.enabled = false
      recs.foreach { r =>
        System.err.println(f"[perfbench] pass $no%d ${r.id} ${r.latencyNs / 1e6}%.1f ms" +
          r.error.map(e => s" FAILED: $e").getOrElse(""))
      }
      PassRec(no, traced, t0Ms, t1Ms, wall, load, recs, released, releaseNs, tracer.spans, plan)
    }

    // Set-up: session, workload preparation, then warm-up at the measured
    // scale until the pass time levels off. The query workload's warm-up
    // passes, the cold one and the warm ones, each in its own order, write
    // their answers for the oracle; its measured passes write to noop.
    // The cube workload keeps the answers its measured passes collect.
    wl.prepare()
    val queries = a.workload != "oec_calls"
    val warm = ArrayBuffer(pass(dump = queries, traced = false))
    while (warm.size < MaxWarmPasses && !leveled(warm.toSeq))
      warm += pass(dump = queries, traced = false)
    val setupS = (System.nanoTime() - setupT0) / 1e9

    // Measured window. A traced run interleaves untraced and traced passes
    // as U T T U, so that the warm-up drift cancels out of its measured
    // overhead.
    val measured = ArrayBuffer.empty[PassRec]
    val retainedMb = ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    val minPasses = if (a.trace) 4 else MinPasses
    while (measured.size < minPasses || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      measured += pass(dump = !queries,
        traced = a.trace && Set(1, 2).contains(measured.size % 4))
      retainedMb += Proc.retainedHeapMb()
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    val nonHeapPeakMb = Proc.nonHeapPeakMb()

    val kernels = if (a.trace) Kernels.measure(spark, a.data) else Map.empty[String, Double]

    val plain = measured.filterNot(_.traced)
    val traced = measured.filter(_.traced)
    val lat = plain.flatMap(_.calls).map(_.latencyNs / 1e6).toSeq
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> median(plain.map(_.wallS).toSeq),
      "heap_retained_mb" -> retainedMb.max,
      "nonheap_peak_mb" -> nonHeapPeakMb)
    val perLayer =
      if (!a.trace) Nil
      else Layers.metrics(createS, plain.toSeq, traced.toSeq, counters, kernels, Cores)

    val all = measured.flatMap(_.calls)
    val errors = (warm ++ measured).flatMap(_.calls).filter(_.error.nonEmpty)
    val tail = math.max(50, 100 * (lat.size - 10) / math.max(1, lat.size))
    val doc = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "session_create_s" -> createS,
      "warmup_pass_s" -> warm.map(_.wallS).toSeq,
      "warmup_leveled" -> leveled(warm.toSeq),
      "measure_s" -> measureS,
      "passes" -> measured.map(p => Map(
        "no" -> p.no, "traced" -> p.traced, "wall_s" -> p.wallS, "load_1m" -> p.load1m,
        "start_epoch_ms" -> p.t0Ms, "calls" -> p.calls.size)).toSeq,
      "latency_ms_by_call" -> plain.flatMap(_.calls).groupBy(_.id).map { case (k, v) =>
        k -> median(v.map(_.latencyNs / 1e6).toSeq) },
      // per-call latency: the median, and the highest whole percentile
      // that still has ten samples beyond it
      "latency_ms" -> Map("n" -> lat.size, "p50" -> percentile(lat, 0.5),
        "tail_pct" -> tail, "tail" -> percentile(lat, tail / 100.0)),
      "attempted" -> all.size,
      "executions" -> all.groupBy(_.id).map { case (k, v) => k -> v.size },
      "errors" -> errors.groupBy(_.id).map { case (k, v) => k -> v.head.error.get },
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> perLayer.toMap,
      "oracle" -> wl.oracleRecords())
    Files.writeString(Paths.get(a.out, "result.json"), Json.write(doc) + "\n")
    spark.stop()
    System.exit(0)
  }
}

/** Rows per second of the engine's per-row kernels, each timed as a
  * noop-written projection over a cached, widened copy of the documents
  * or embeddings table, so that the scan is not part of the figure.
  */
object Kernels {
  val Reps = 3
  /** Rows each kernel projects. */
  val TargetRows = 20000

  /** (name, runs over documents rather than embeddings, kernel). */
  val Specs: Seq[(String, Boolean, org.apache.spark.sql.Column)] = Seq(
    ("langId", true, TextAnalysis.langId(col("text"))),
    ("fingerprint", true, TextAnalysis.fingerprint(col("text"))),
    ("qualityScore", true, TextAnalysis.qualityScore(col("text"))),
    ("scrub", true, TextAnalysis.scrub(col("text"), Seq("customer", "vector"))),
    ("minhashSig", true, TextExpressions.minhashSig(col("sh"), 64)),
    ("simhashSigns", true, TextExpressions.simhashSigns(col("sh"))),
    ("cosineNative", false, VectorExpressions.cosineNative(col("embedding"), col("embedding"))),
    ("lshKey", false, Similarity.lshKey(col("embedding"), 16, 64)))

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    val engine = new Engine(spark, dir)
    def widen(df: DataFrame): (DataFrame, Long) = {
      val n = df.count()
      val k = math.max(1, (TargetRows / math.max(1L, n)).toInt)
      val w = df.withColumn("rep", explode(sequence(lit(1), lit(k))))
        .repartition(spark.sparkContext.defaultParallelism).persist()
      (w, w.count())
    }
    val (docs, nd) = widen(engine.table("documents").select(col("text"),
      TextAnalysis.shingles(col("text"), 3).as("sh")))
    val (embs, ne) = widen(engine.table("embeddings").select(col("embedding")))
    val kernels = Specs.map { case (name, onDocs, k) =>
      if (onDocs) (name, docs, nd, k) else (name, embs, ne, k)
    }
    val out = kernels.map { case (name, df, n, k) =>
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        df.select(k.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      s"functions.${name}_rows_per_s" -> n / Main.median(times)
    }.toMap
    docs.unpersist()
    embs.unpersist()
    out
  }
}

/** Per-layer metrics of the traced passes, each the median over them. */
object Layers {
  /** Layers the spans are tagged with; each gets a self-time metric. */
  val SpanLayers = Seq("harness", "cube", "entry", "operators", "scratch", "spark")

  def metrics(createS: Double, plain: Seq[PassRec], passes: Seq[PassRec], c: Counters,
      kernels: Map[String, Double], cores: Int): Seq[(String, Double)] = {
    def med(f: PassRec => Double): Double = if (passes.isEmpty) 0.0 else Main.median(passes.map(f))
    def spansOf(p: PassRec, layer: String, name: String) =
      p.spans.filter(s => s.layer == layer && s.name.startsWith(name))
    def sumMs(p: PassRec, layer: String, name: String) = spansOf(p, layer, name).map(_.durNs).sum / 1e6
    def perCall(p: PassRec, v: Double) = if (p.calls.isEmpty) 0.0 else v / p.calls.size
    val mb = 1024.0 * 1024.0
    def stages(p: PassRec) = c.stagesIn(p.t0Ms, p.t1Ms)
    def batches(p: PassRec) = c.batchesIn(p.t0Ms, p.t1Ms)
    def jobs(p: PassRec) = c.jobsIn(p.t0Ms, p.t1Ms)
    def buildJobs(p: PassRec) = {
      val builds = spansOf(p, "entry", "build")
      p.spans.filter(_.layer == "spark").count(j =>
        builds.exists(b => j.startNs >= b.startNs && j.startNs < b.endNs)).toDouble
    }
    def skew(p: PassRec) = {
      val r = stages(p).filter(_.taskMs.size > 1).map { s =>
        val m = Main.median(s.taskMs.map(_.toDouble))
        if (m <= 0) 1.0 else s.taskMs.max / m
      }
      if (r.isEmpty) 1.0 else Main.median(r)
    }
    val self = passes.map(p => Trace.selfByLayer(p.spans))
    Seq(
      "session.create_s" -> createS,
      "cube.build_ms" -> med(p => perCall(p, sumMs(p, "cube", "build"))),
      "cube.plan_ms" -> med(p => perCall(p, sumMs(p, "cube", "plan"))),
      "cube.exec_ms" -> med(p => perCall(p, sumMs(p, "cube", "collect"))),
      "plan.exchanges" -> med(_.plan.exchanges.toDouble),
      "plan.smj" -> med(_.plan.smj.toDouble),
      "plan.bhj" -> med(_.plan.bhj.toDouble),
      "plan.scans" -> med(_.plan.scans.toDouble),
      "entry.build_s" -> med(p => sumMs(p, "entry", "build") / 1e3),
      "entry.build_jobs" -> med(buildJobs),
      "entry.exec_s" -> med(p => sumMs(p, "entry", "materialize") / 1e3),
      "scratch.released_blocks" -> med(_.released.toDouble),
      "scratch.release_ms" -> med(_.releaseNs / 1e6),
      "sink.output_mb" -> med(p => stages(p).map(_.outBytes).sum / mb),
      "sink.output_records" -> med(p => stages(p).map(_.outRecords).sum.toDouble),
      "stream.batches" -> med(p => batches(p).size.toDouble),
      "stream.input_rows" -> med(p => batches(p).map(_.inputRows).sum.toDouble),
      "stream.trigger_ms" -> med(p => batches(p).map(_.triggerMs).sum.toDouble),
      "spark.jobs" -> med(p => jobs(p).size.toDouble),
      "spark.stages" -> med(p => stages(p).size.toDouble),
      "spark.tasks" -> med(p => stages(p).map(_.tasks).sum.toDouble),
      "spark.task_run_s" -> med(p => stages(p).map(_.runMs).sum / 1e3),
      "spark.task_cpu_s" -> med(p => stages(p).map(_.cpuNs).sum / 1e9),
      "spark.gc_s" -> med(p => stages(p).map(_.gcMs).sum / 1e3),
      "spark.shuffle_read_mb" -> med(p => stages(p).map(_.shuffleRead).sum / mb),
      "spark.shuffle_write_mb" -> med(p => stages(p).map(_.shuffleWrite).sum / mb),
      "spark.spill_mb" -> med(p => stages(p).map(_.spill).sum / mb),
      "spark.input_mb" -> med(p => stages(p).map(_.input).sum / mb),
      "spark.slot_busy_ratio" -> med(p => stages(p).map(_.runMs).sum / 1e3 / (p.wallS * cores)),
      "spark.stage_skew" -> med(skew),
      "driver.nonjob_s" -> med(p => p.wallS - Trace.unionLength(jobs(p)) / 1e3)) ++
      SpanLayers.map(l => s"self.${l}_s" -> (if (self.isEmpty) 0.0
        else Main.median(self.map(_.getOrElse(l, 0.0))))) ++
      kernels.toSeq.sortBy(_._1) ++ Seq(
      "trace.overhead_s" -> (med(_.wallS) - Main.median(plain.map(_.wallS))),
      "trace.spans" -> med(_.spans.size.toDouble))
  }
}

object Proc {
  private val mb = 1024.0 * 1024.0

  /** Heap the engine still holds after a full collection, in MiB: its
    * session state, memos and cached blocks, without garbage.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
  }

  /** Peak resident memory outside the heap, in MiB: the JVM's `VmHWM`
    * less the committed heap, which is fixed and pre-touched.
    */
  def nonHeapPeakMb(): Double = {
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    hwmKb / 1024.0 - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / mb
  }
}

/** The run record is written with json4s. */
object Json {
  /** Doubles that are not numbers become null. */
  def write(doc: Map[String, Any]): String =
    Serialization.write(doc.map { case (k, v) => k -> clean(v) })(DefaultFormats)

  private def clean(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> clean(x) }.toMap
    case xs: Iterable[_] => xs.map(clean).toSeq
    case x => x
  }

  /** A result cell: numbers stay numbers, timestamps and dates become ISO
    * strings, anything else its string form.
    */
  def cell(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case d: Double => d
    case f: Float => f.toDouble
    case n: java.lang.Number => n
    case t: java.time.LocalDateTime => t.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case s => s.toString
  }
}
