package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload, as a closed loop: a single client
  * on one session at `local[cores]`, each query call starting when the
  * previous one has finished.
  *
  * A run sets the session up, makes one cold pass
  * (first call of every query in the workload's order, noop sink), one
  * untimed digest pass (every output checked against the committed
  * reference) and untimed noop passes until `WarmupSeconds` have passed
  * since the digest pass began (the JIT is still compiling after the
  * cold pass), then timed warm passes until `--seconds` have passed and
  * at least `MinPasses` were made. The query
  * order of each warm pass is a permutation drawn from `--seed`. With `--trace 1`, warm passes
  * alternate between untraced and traced (listeners attached), and the
  * run reports the per-layer figures of the traced ones, the tracing
  * overhead, and the kernel timings.
  *
  * Prints one JSON line on stdout:
  * `{"correct", "attempted", "failed", "metrics"}`; writes the run record
  * (`--record`) and, when traced, the spans (`--spans`). `setup_s` is the
  * time from the JVM's launch (`--launched-ms`, epoch ms) until the
  * session and its warm-up job are ready.
  *
  * `outputs --dir <dir>` instead writes the workload queries' outputs
  * for the oracle comparison in `make_reference.py`. */
object Main {

  val WarmupSeconds = 20.0
  val MinPasses = 3
  val MiB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val opts = args.dropWhile(!_.startsWith("--")).grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    args.headOption match {
      case Some("outputs") => writeOutputs(opts)
      case _ => sys.exit(new Run(opts).run())
    }
  }

  /** Writes every workload query's output as parquet under `--dir`,
    * with the queries' DuckDB oracle SQL, for an offline comparison. */
  private def writeOutputs(opts: Map[String, String]): Unit = {
    val spark = newSession(cores)
    val out = opts("dir")
    val queries = Workloads.All.flatMap(_.queries)
    try queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, opts("data")).write.mode("overwrite").parquet(s"$out/$q")
    } finally spark.stop()
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
      .map { case (q, sql) => s"${jstr(q)}:${jstr(sql)}" }
    Files.writeString(Paths.get(out, "oracle_sql.json"), oracles.mkString("{", ",", "}\n"))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** The session every graft harness builds, plus the warm-up job. */
  def newSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", graft.sources.Tmp.dir("graft-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id * 2)").write.format("noop").mode("overwrite").save()
    spark
  }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def readReference(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(q, rows, hash, _*) => q -> s"$rows:$hash" }.toMap
}

/** The largest heap in use right after a collection since `reset`, read
  * from the collectors' notifications: the harness forces no collection,
  * since a full one would also unload classes and throw away their
  * compiled code. */
private object HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))

  /** Starts from the heap in use after the latest collection. */
  def reset(): Unit = synchronized {
    peak = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  def get: Long = peak

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, after) }
    }
}

/** JVM-wide collection and JIT compilation time so far. */
private object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

private final class Run(opts: Map[String, String]) {
  import Main._
  import Tracer._

  private val workload = Workloads.byName(opts("workload"))
  private val seed = opts.getOrElse("seed", "1").toLong
  private val seconds = opts.getOrElse("seconds", "10").toDouble
  private val traced = opts.getOrElse("trace", "0") == "1"
  private val cores = Main.cores
  private val dir = opts("data")
  private val reference = readReference(opts("reference"))
  private val recordRef = opts.get("record-reference")
  private val registry = graft.SparkEntry.queries

  private var spark: SparkSession = _
  private val tracer = new Tracer
  private var attached = false
  private var attempted = 0L
  private var failed = 0L
  private val errors = ArrayBuffer[String]()
  private val digests = mutable.LinkedHashMap[String, String]()

  /** One query call: its wall, the collection and JIT compilation time
    * spent during the wall and, when traced, its trace. */
  private final case class Call(name: String, ok: Boolean, wallS: Double,
                                gcS: Double, jitS: Double, trace: Option[QueryTrace])

  /** A timed warm pass: whether it was traced, its calls, and the largest
    * heap in use after a collection while it ran. */
  private final case class Pass(traced: Boolean, calls: Seq[Call], heapBytes: Long) {
    def wallS: Double = calls.map(_.wallS).sum
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(workload.queries)

  /** Query state the registry leaves behind (cached plans, persisted and
    * checkpointed RDDs) is released between calls, outside the timing. */
  private def release(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def call(name: String, action: DataFrame => Unit): Call = {
    val sc = spark.sparkContext
    attempted += 1
    val gc0 = Jvm.gcMs()
    val jit0 = Jvm.jitMs()
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var m1 = m0
    val ok =
      try {
        sc.setLocalProperty(PhaseKey, "build")
        val df = registry(name)(spark, dir)
        m1 = System.currentTimeMillis()
        sc.setLocalProperty(PhaseKey, "exec")
        action(df)
        true
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(300)}"
          System.err.println(s"[perfbench] $name failed: $e")
          false
      } finally sc.setLocalProperty(PhaseKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val m2 = System.currentTimeMillis()
    val gcS = (Jvm.gcMs() - gc0) / 1e3
    val jitS = (Jvm.jitMs() - jit0) / 1e3
    val trace =
      if (!attached) None
      else {
        org.apache.spark.BusDrain.drain(sc)
        Some(tracer.harvest(Window(name, m0, m1, m1, m2)))
      }
    release()
    Call(name, ok, wall, gcS, jitS, trace)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def trace(on: Boolean): Unit = if (on != attached) {
    if (on) tracer.attach(spark) else tracer.detach(spark)
    attached = on
  }

  def run(): Int = {
    val loadStart = loadavg()
    spark = newSession(cores)
    val setupS = (System.currentTimeMillis() - opts("launched-ms").toLong) / 1000.0

    // cold pass: first call of every query in this session
    trace(traced)
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ct0 = CodeGenerator.compileTime
    val cold = workload.queries.map(call(_, noop))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    val compileMs = (CodeGenerator.compileTime - ct0) / 1e6
    trace(false)

    // untimed digest pass, the first of the warm-up
    val w0 = System.nanoTime()
    workload.queries.foreach { q =>
      val ok = call(q, df => digests(q) = Digest.of(df).toString).ok
      val want = reference.get(q)
      if (ok && recordRef.isEmpty && digests.get(q) != want) {
        failed += 1
        errors += s"$q: digest ${digests.getOrElse(q, "none")} != reference ${want.getOrElse("none")}"
        System.err.println(s"[perfbench] ${errors.last}")
      }
    }
    recordRef.foreach { p =>
      Files.writeString(Paths.get(p), digests.map { case (q, d) =>
        val Array(rows, hash) = d.split(":"); s"$q\t$rows\t$hash" }.mkString("", "\n", "\n"))
    }

    // untimed noop passes until the warm-up time is spent
    var w = 0
    while ((System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
      w += 1
      order(-w).foreach(call(_, noop))
    }

    // warm passes, untraced and (with --trace 1) traced in alternation
    val passes = ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && passes.size % 2 == 1
      trace(on)
      HeapPeak.reset()
      val calls = order(passes.size + 1).map(call(_, noop))
      passes += Pass(on, calls, HeapPeak.get)
    }
    trace(false)
    val kernels = if (traced) Kernels.run(spark) else Map.empty[String, Double]
    val loadEnd = loadavg()

    val (tracedPasses, untraced) = passes.toSeq.partition(_.traced)
    val warm = untraced.map(_.wallS)
    val walls = untraced.flatMap(_.calls.map(_.wallS))
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("cold_s", cold.map(_.wallS).sum, "s"),
        ("warm_s", Stats.median(warm), "s"))
      else {
        Layers.perPass(tracedPasses.map(_.calls.flatMap(_.trace)), cores) ++
          Kernels.Names.map(k => (s"expressions.$k.ns_per_row", kernels(k), "ns")) ++ Seq(
          ("codegen.compiles", compiles.toDouble, "count"),
          ("codegen.compile_ms", compileMs, "ms"),
          // untraced passes of this run: the tracer's own state is not counted
          ("jvm.heap_peak_mb", Stats.median(untraced.map(_.heapBytes.toDouble)) / MiB, "MB"),
          ("jvm.jit_s", Stats.median(untraced.map(_.calls.map(_.jitS).sum)), "s"),
          ("trace.overhead", Stats.median(tracedPasses.map(_.wallS)) / Stats.median(warm), "ratio"))
      }

    val correct = failed == 0
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
        .mkString(",") + "}}"

    opts.get("record").foreach { p =>
      def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")
      def quart(xs: Seq[Double]) = { val (a, b, c) = Stats.quartiles(xs); arr(Seq(a, b, c)) }
      val perQuery = workload.queries.map { q =>
        val mine = untraced.flatMap(_.calls.filter(_.name == q))
        val ws = mine.map(_.wallS)
        s"${jstr(q)}:{\"cold_s\":${num(cold.find(_.name == q).fold(0.0)(_.wallS))}," +
          s"\"warm_s\":${arr(ws)}," +
          s"\"gc_s\":${arr(mine.map(_.gcS))},\"jit_s\":${arr(mine.map(_.jitS))}," +
          s"\"digest\":${jstr(digests.getOrElse(q, ""))}}"
      }.mkString("{", ",", "}")
      val rec = "{" + Seq(
        s"\"workload\":${jstr(workload.name)}", s"\"seed\":$seed", s"\"trace\":$traced",
        s"\"seconds\":${num(seconds)}", s"\"cores\":$cores",
        s"\"heap_max_mb\":${num(Runtime.getRuntime.maxMemory / MiB)}",
        s"\"spark_version\":${jstr(spark.version)}",
        s"\"scala_version\":${jstr(scala.util.Properties.versionNumberString)}",
        s"\"loadavg_start\":${arr(loadStart)}", s"\"loadavg_end\":${arr(loadEnd)}",
        s"\"context\":${opts.getOrElse("context", "{}")}",
        s"\"setup_s\":${num(setupS)}",
        s"\"warm_pass_s\":${arr(warm)}", s"\"warm_pass_heap_mb\":${arr(untraced.map(_.heapBytes / MiB))}", s"\"warm_pass_s_quartiles\":${quart(warm)}",
        s"\"query_s_quartiles\":${quart(walls)}", s"\"query_p90_s\":${num(Stats.tail(walls))}",
        s"\"passes\":{\"untraced\":${untraced.size},\"traced\":${tracedPasses.size}}",
        s"\"queries\":$perQuery",
        s"\"errors\":${errors.map(jstr).mkString("[", ",", "]")}",
        s"\"result\":$result").mkString(",") + "}\n"
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.writeString(Paths.get(p), rec)
    }
    if (traced) opts.get("spans").foreach { p =>
      val traces = ("cold" -> cold.flatMap(_.trace)) +:
        tracedPasses.zipWithIndex.map { case (p, i) => s"pass$i" -> p.calls.flatMap(_.trace) }
      Spans.write(Paths.get(p), workload.name, traces)
    }
    spark.stop()
    println(result)
    0
  }

  private def loadavg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Seq.empty }
}
