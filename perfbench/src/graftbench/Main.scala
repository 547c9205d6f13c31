package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Benchmark entry point: one workload, one seed, one closed-loop client.
 *
 *   graftbench.Main --mode <generate|setup|run> --workload <name> --seed <n>
 *                   --work-dir <dir> --benchmark <BENCHMARK.json>
 *                   [--seconds <s> --trace <0|1> --setup-samples <s,s>
 *                    --git-commit <sha> --source-hash <h>]
 *
 * A run is several fresh JVMs (perfbench/run.py starts them): `generate`
 * writes the inputs; each `setup` JVM times one cold set-up (session start,
 * register, the workload's once-per-deployment work) and prints it; `run`
 * times its own cold set-up, computes the planted and oracle answers
 * (untimed), runs the first job, warms up, then runs jobs for `--seconds`,
 * and with `--trace 1` a traced pass. `setup_s` is the median of the cold
 * set-ups. Every job's output is checked. The last stdout line of `run` is
 * the result JSON; metric names and units come from BENCHMARK.json.
 */
object Main {

  val MinWarmupJobs = 1
  val MinTimedJobs = 5
  /** Traced pass: at least this many (untraced, traced) job pairs. */
  val MinTracedPairs = 3

  implicit val formats: Formats = DefaultFormats
  def json(v: Map[String, Any]): String = Serialization.write(v)

  /** (name, unit) of the `end_to_end` and `per_layer` metrics declared in
    * BENCHMARK.json. */
  def declared(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val spec = JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    def metrics(key: String) = (spec \ key).children.map(m =>
      (m \ "name").extract[String] -> (m \ "unit").extract[String])
    (metrics("end_to_end"), metrics("per_layer"))
  }

  def session(threads: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // static plans: the plan a job runs is fixed before it starts
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * threads).toString)
      // the seen table is never broadcast at crawl scale; keep that join
      // shape here, where the table is small enough that Spark would
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one scan task per stored file, not one per thread
      .config("spark.sql.files.minPartitionNum", Workload.PageFiles.toString)
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /**
   * Peak heap in use right after a collection, per job. A full collection
   * before each job starts it from the live heap alone, so a job's peak is
   * what it holds live (plus what the session retains), not old-generation
   * garbage left by the jobs before it.
   */
  object Heap {
    @volatile private var tracking = false
    @volatile private var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener: NotificationListener = (n, _) =>
      if (tracking && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

    def beginJob(): Unit = {
      tracking = false
      System.gc()
      peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      tracking = true
    }
    /** The job's peak, in bytes. */
    def endJob(): Long = { tracking = false; peak }
  }

  /** Host ALU reading: `threads` xorshift spinners for 300 ms, in Mops/s.
    * Recorded as context only; never used to gate or rescale a sample. */
  def aluMops(threads: Int): Double = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ops = new java.util.concurrent.atomic.AtomicLong
    val ts = (1 to threads).map { k =>
      new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k
        var local = 0L
        while (!stop.get()) {
          var i = 0
          while (i < 100000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
          local += 100000
        }
        if (x == 42L) print("")
        ops.addAndGet(local)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    Thread.sleep(300)
    stop.set(true)
    ts.foreach(_.join())
    ops.get() / ((System.nanoTime() - t0) / 1e3)
  }

  /** Cold set-up in a fresh session: session start, register, then the
    * workload's once-per-deployment work. Returns the session and seconds. */
  def setUp(w: Workload, threads: Int, workDir: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val s = session(threads, workDir)
    graft.spark.GraftFunctions.register(s)
    w.setup(s)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workDir = new java.io.File(args("work-dir")).getAbsolutePath
    val w = Workload(args("workload"), s"$workDir/input-${args("workload")}")
    val seed = args("seed").toLong
    val threads = Runtime.getRuntime.availableProcessors
    args("mode") match {
      case "generate" => w.generate(seed, write = true)
      case "setup" =>
        // the same steps before set-up as in the run JVM
        aluMops(threads)
        val (spark, secs) = setUp(w, threads, workDir)
        spark.stop()
        println(json(Map("setup_s" -> secs)))
      case "run" => run(w, seed, threads, workDir, args)
    }
  }

  def run(w: Workload, seed: Long, threads: Int, workDir: String,
      args: Map[String, String]): Unit = {
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val (endToEnd, perLayer) = declared(args("benchmark"))
    val units = (endToEnd ++ perLayer).toMap

    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()
    def fail(what: String, msg: String): Unit = {
      failures += s"$what: $msg"
      System.err.println(s"FAILED $what: $msg")
    }
    def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }

    // taken first: after set-up the JIT's queue is full, and the spin loop
    // would run interpreted
    val aluBefore = aluMops(threads)
    // this JVM's cold set-up is one sample; the others come from set-up JVMs
    val (spark, ownSetup) = setUp(w, threads, workDir)
    val setupEnd = System.nanoTime()
    val setupSamples = args.get("setup-samples").toSeq.flatMap(_.split(","))
      .filter(_.nonEmpty).map(_.toDouble) :+ ownSetup
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" }

    // the planted answers: the generator again, from the same seed
    phase("answers")(w.generate(seed, write = false))
    phase("oracle")(w.prepareChecks(spark))

    // JIT compile time per job, printed with the environment: it shows
    // whether the warm-up let the compiler settle
    val jit = ManagementFactory.getCompilationMXBean
    val jitMs = mutable.ArrayBuffer[Long]()
    val heapMb = mutable.ArrayBuffer[Double]()
    /** One closed-loop job: timed `run`, then the untimed check and clean-up.
      * Returns the wall seconds of a job whose output checked out. */
    def job(label: String, t: Tracer = Tracer.off): Option[Double] = {
      attempted += 1
      Heap.beginJob()
      val c0 = jit.getTotalCompilationTime
      try {
        val t0 = System.nanoTime()
        val out = t.span("spark.job")(w.run(spark, t))
        val secs = (System.nanoTime() - t0) / 1e9
        w.check(out) match {
          case Some(diff) => fail(label, diff); None
          case None => Some(secs)
        }
      } catch { case NonFatal(e) => fail(label, describe(e)); None }
      finally {
        heapMb += Heap.endJob() / 1e6
        jitMs += jit.getTotalCompilationTime - c0
        spark.catalog.clearCache()
        spark.catalog.listTables().collect().filter(_.isTemporary)
          .foreach(t => spark.catalog.dropTempView(t.name))
        w.afterJob(spark)
      }
    }
    def loop(label: String, seconds: Double, minJobs: Int): Seq[Double] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer[Double]()
      var n = 0
      while (n < minJobs || (System.nanoTime() - t0) / 1e9 < seconds) {
        job(s"$label job ${n + 1}").foreach(out += _)
        n += 1
      }
      out.toSeq
    }

    // warm-up runs to a deadline counted from the end of set-up, so the
    // answers, the crawl oracle and the first job (the JIT keeps compiling
    // meanwhile) count toward it
    val firstJob = phase("first_job")(job("first job"))
    val warm = phase("warm_up") {
      loop("warm-up", w.warmupSeconds - (System.nanoTime() - setupEnd) / 1e9, MinWarmupJobs)
    }
    val timedFrom = heapMb.size
    val timed = phase("timed")(loop("timed", seconds, MinTimedJobs))
    val timedHeapMb = heapMb.slice(timedFrom, heapMb.size).toSeq
    val rates = timed.map(w.items / _)

    val layerMetrics: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val t = new Tracer
        val listener = new TaskListener
        val sc = spark.sparkContext
        sc.addSparkListener(listener)
        // untraced and traced jobs alternate, so that the tracing overhead
        // is not confounded with a drift of the job times over the pass
        val traced, untraced = mutable.ArrayBuffer[Double]()
        var exec = ExecMetrics(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
        var n = 0
        val t0 = System.nanoTime()
        while (n < MinTracedPairs || (System.nanoTime() - t0) / 1e9 < seconds) {
          n += 1
          job(s"untraced job $n").foreach(untraced += _)
          t.newTrace()
          val g = s"traced-$n"
          sc.setJobGroup(g, s"traced job $n")
          t.span(s"job.${w.name}")(job(s"traced job $n", t)).foreach(traced += _)
          sc.clearJobGroup()
          listener.await(sc, g)
          exec = listener.metrics(g)
        }
        attempted += 1
        t.newTrace()
        // the listener stays on, so the crawl's step jobs run as the traced
        // jobs they are compared with did
        val layers = phase("layers") {
          try t.span("layers")(w.layers(spark, t, exec))
          catch { case NonFatal(e) => fail("per-layer pass", describe(e)); Map.empty[String, Double] }
        }
        sc.removeSparkListener(listener)
        t.writeJsonLines(java.nio.file.Paths.get(workDir, s"trace-${w.name}-seed$seed.jsonl"))
        val tracedRate = Stats.median(traced.map(w.items / _).toSeq)
        val untracedRate = Stats.median(untraced.map(w.items / _).toSeq)
        val jobS = traced.lastOption.getOrElse(0.0)
        layers ++ Map(
          "exec.shuffle_write_mb" -> exec.shuffleWriteMb,
          "exec.shuffle_write_s" -> exec.shuffleWriteS,
          "exec.shuffle_records" -> exec.shuffleRecords.toDouble,
          "exec.fetch_wait_s" -> exec.fetchWaitS,
          "exec.spill_mb" -> exec.spillMb,
          "exec.run_s" -> exec.runS,
          "exec.cpu_s" -> exec.cpuS,
          "exec.gc_s" -> exec.gcS,
          "exec.tasks" -> exec.tasks.toDouble,
          "exec.task_skew" -> exec.taskSkew,
          "exec.busy_frac" -> exec.runS / (jobS * threads),
          "exec.first_job_s" -> firstJob.getOrElse(0.0),
          "exec.job_s" -> jobS,
          "trace.items_per_s" -> tracedRate,
          "trace.overhead_frac" -> (1 - tracedRate / untracedRate))
      }
    val aluAfter = aluMops(threads)

    val e2e = Map(
      "items_per_s" -> Stats.median(rates),
      "setup_s" -> Stats.median(setupSamples),
      "peak_heap_mb" -> Stats.median(timedHeapMb))
    val samples = Map("items_per_s" -> rates, "setup_s" -> setupSamples,
      "peak_heap_mb" -> timedHeapMb)
    val undeclared = (e2e.keySet ++ layerMetrics.keySet) -- units.keySet
    if (undeclared.nonEmpty)
      fail("metrics", s"not declared in BENCHMARK.json: ${undeclared.toSeq.sorted.mkString(", ")}")

    val env = Map(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> threads,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).toSeq,
      "spark" -> spark.version,
      "session_conf" -> conf,
      "git_commit" -> args.getOrElse("git-commit", "none"),
      "source_hash" -> args.getOrElse("source-hash", "none"),
      "alu_mops_before" -> aluBefore, "alu_mops_after" -> aluAfter,
      "setup_samples_s" -> setupSamples,
      "phases_s" -> phases.toMap, "warm_up_job_s" -> warm, "timed_job_s" -> timed,
      "jit_compile_ms_per_job" -> jitMs.toSeq)
    println(json(Map("environment" -> env)))
    endToEnd.foreach { case (m, unit) =>
      val xs = samples.getOrElse(m, Seq(e2e(m)))
      println(json(Map("metric" -> m, "unit" -> unit, "median" -> e2e(m),
        "q1" -> Stats.quantile(xs, 0.25), "q3" -> Stats.quantile(xs, 0.75),
        "min" -> xs.min, "max" -> xs.max, "samples" -> xs.size)))
    }
    if (failures.nonEmpty) println(json(Map("failures" -> failures.toSeq)))
    spark.stop()

    // a metric whose layer is not on this workload's path reads 0
    val reported = if (trace) perLayer.map { case (m, u) => (m, u, layerMetrics.getOrElse(m, 0.0)) }
      else endToEnd.map { case (m, u) => (m, u, e2e(m)) }
    println(json(Map(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> reported.map { case (m, u, v) => m -> Map("value" -> v, "unit" -> u) }.toMap)))
  }
}
