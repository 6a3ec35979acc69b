package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfBenchBus
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry

/** The benchmark's measuring process. It drives graft only through
  * `SparkEntry.queries(name)(spark, dir)` followed by a full-result action
  * (the noop sink, or a parquet write), and writes every raw measurement
  * as JSON for `run.py`, which derives the metrics and checks the outputs.
  *
  * Run order: session start, one untimed set-up pass, the timed passes,
  * then one untimed pass that fingerprints every output. With `--trace 1`
  * half of the timed passes are traced, so the trace's own overhead is
  * measured in the same run.
  */
object Harness {
  /** One pipeline run; `fingerprint` is set only on the fingerprint pass. */
  final case class Sample(pipeline: String, pass: Int, constructS: Double,
                          totalS: Double, rows: Long, fingerprint: String, error: String)
  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double, gcS: Double, heapMb: Double,
                        layers: Option[LayerStats], samples: Seq[Sample])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workloads.byName(opt("workload"))
    val input = opt("input")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sinkDir = opt("sink")
    val cores = Runtime.getRuntime.availableProcessors()

    // Set-up time is session start plus the untimed pass; the canary
    // between them is left out.
    val sessionStart = System.nanoTime()
    val spark = session(cores)
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    canary(spark, cores)
    val canaryStart = canary(spark, cores)
    val queries = SparkEntry.queries
    val rng = new Random(seed)

    /** Builds one pipeline and runs its full-result action; never throws. */
    def runPipeline(name: String, pass: Int, withFingerprint: Boolean): Sample = {
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        sc.setLocalProperty(LayerTrace.PhaseKey, LayerTrace.Construct)
        val df = queries(name)(spark, input)
        t1 = System.nanoTime()
        sc.setLocalProperty(LayerTrace.PhaseKey, LayerTrace.Action)
        val obs = new Observation()
        val observed =
          if (withFingerprint) df.observe(obs, count(lit(1)).as("rows"), fingerprint.as("fp"))
          else df.observe(obs, count(lit(1)).as("rows"))
        val w = observed.write.mode("overwrite")
        if (workload.parquetSink) w.parquet(s"$sinkDir/$name") else w.format("noop").save()
        val m = obs.get
        val fp = if (withFingerprint) String.valueOf(m("fp")) else null
        Sample(name, pass, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9,
          m("rows").asInstanceOf[Long], fp, null)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          Sample(name, pass, (t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9, -1L, null, e.toString)
      } finally sc.setLocalProperty(LayerTrace.PhaseKey, null)
    }

    val liveHeap = new LiveHeapPeak
    val cpuBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    /** One pass: the workload's pipelines once each, in a seeded order. */
    def runPass(index: Int, trace: Option[LayerTrace], withFingerprint: Boolean): Pass = {
      trace.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
      val order = rng.shuffle(workload.pipelines)
      liveHeap.take()
      val (cpu0, gc0, t0) = (cpuBean.getProcessCpuTime, gcS, System.nanoTime())
      val got = order.map(p => runPipeline(p, index, withFingerprint))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, gc) = ((cpuBean.getProcessCpuTime - cpu0) / 1e9, gcS - gc0)
      val layers = trace.map { t =>
        PerfBenchBus.drain(sc)
        sc.removeSparkListener(t); spark.listenerManager.unregister(t)
        t.take()
      }
      if (workload.parquetSink) deleteTree(Paths.get(sinkDir))
      spark.sharedState.cacheManager.clearCache()
      System.err.println(f"[perfbench] pass $index ${if (trace.isDefined) "traced" else "untraced"} $wall%.2f s")
      Pass(trace.isDefined, wall, cpu, gc, liveHeap.take() / 1e6, layers, got)
    }

    // The set-up pass pays first-call costs (memo fixtures, code
    // generation, JIT); like the timed passes it only counts rows.
    val passesStart = System.nanoTime()
    val first = runPass(-1, None, withFingerprint = false)
    val setupS = sessionS + (System.nanoTime() - passesStart) / 1e9

    // Timed window: at least `seconds`, and at least the workload's number
    // of passes. Pass times keep falling for several passes as the JIT
    // compiles more of Spark's planner; run.py reports the best of them.
    System.gc()
    val trace = if (traced) Some(new LayerTrace(sinkDir)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val windowStart = System.nanoTime()
    def elapsed = (System.nanoTime() - windowStart) / 1e9
    while (seconds > 0 && (elapsed < seconds || passes.size < workload.passes)) {
      val i = passes.size
      // traced passes in an untraced-traced-traced-untraced pattern, so
      // the falling pass times bias neither side of the overhead ratio
      passes += runPass(i, trace.filter(_ => i % 4 == 1 || i % 4 == 2), withFingerprint = false)
      // a full collection between passes, outside their timing, so each
      // pass's heap peak counts only what that pass left behind
      System.gc()
    }
    val canaryEnd = canary(spark, cores)
    // Untimed: the content fingerprints, checked against refs.json.
    val fingerprinted = runPass(-2, None, withFingerprint = true)
    spark.stop()

    def sampleJson(s: Sample) =
      s"""{"pipeline": "${s.pipeline}", "pass": ${s.pass}, """ +
        s""""construct_s": ${s.constructS}, "total_s": ${s.totalS}, "rows": ${s.rows}, """ +
        s""""fingerprint": ${Json.str(s.fingerprint)}, "error": ${Json.str(s.error)}}"""
    def passJson(p: Pass) = {
      val layers = p.layers.map(_.toMap.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
      s"""{"traced": ${p.traced}, "wall_s": ${p.wallS}, "cpu_s": ${p.cpuS}, "gc_s": ${p.gcS}, "heap_mb": ${p.heapMb}, """ +
        s""""layers": ${layers.getOrElse("null")},\n   "samples": [\n    """ +
        p.samples.map(sampleJson).mkString(",\n    ") + "]}"
    }
    Files.writeString(Paths.get(opt("out")),
      s"""{"workload": "${workload.name}", "seed": $seed, "cores": $cores,
         | "setup_s": $setupS,
         | "canary_start_s": $canaryStart, "canary_end_s": $canaryEnd,
         | "first_pass": ${passJson(first)},
         | "passes": [${passes.map(passJson).mkString(",\n ")}],
         | "fingerprint_pass": ${passJson(fingerprinted)}}
         |""".stripMargin): Unit
  }

  /** graft.Bench's session settings. */
  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64L * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's box-speed canary: a fixed, input-independent hash-mix
    * CPU job (range shortened to keep it near half a second on four
    * cores). The first call warms its generated code. */
  private def canary(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, numPartitions = cores)
      .selectExpr("bit_xor(xxhash64(id)) AS h").collect(): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** An order-independent content hash of a result: the exact sum of a
    * 64-bit hash of each row's JSON rendering. */
  private def fingerprint: Column =
    coalesce(sum(xxhash64(to_json(struct(col("*")))).cast(DecimalType(38, 0))), lit(0))

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}

private object Json {
  def str(s: String): String =
    if (s == null) "null"
    else s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }.mkString("\"", "", "\"")
}

/** The largest heap occupancy left after a garbage collection, since the
  * last [[take]]. Unlike raw heap use, which swings with when the collector
  * happens to run, this follows the data a pass keeps alive. */
private final class LiveHeapPeak extends javax.management.NotificationListener {
  import com.sun.management.GarbageCollectionNotificationInfo
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private var maxBytes = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(this, null, null))

  def take(): Long = synchronized { val m = maxBytes; maxBytes = 0L; m }

  override def handleNotification(n: javax.management.Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
      synchronized { maxBytes = math.max(maxBytes, used) }
    }
}
