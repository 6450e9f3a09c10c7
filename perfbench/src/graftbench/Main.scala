package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession

/** The benchmark's JVM side: starts the session the specs test over the
  * inputs perfbench/gen.py wrote, runs one untimed check pass and one more
  * untimed warm-up pass, then a closed loop of timed passes from one
  * client thread, and writes the raw record (samples, answers, spans,
  * host controls) for perfbench/run.py to check and summarise.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out DIR --t0-ms EPOCH_MS --cores N */
object Main {
  val WarmupPasses = 1
  val PassSeconds = 1.7

  final case class Sample(id: Long, request: String, pass: Int, traced: Boolean,
                          seconds: Double, error: String, counts: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val out = opt("out")
    val cores = opt("cores").toInt
    val t0 = opt("t0-ms").toLong * 1000000L

    val s0 = Clock.now()
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (Clock.now() - s0) / 1e9

    val requests = workload match {
      case "explore" => Workloads.explore(spark, data) ++ Workloads.exports(spark, data)
      case "star" => Workloads.star(spark, data)
    }
    val c0 = Clock.now()
    val probe = new PathProbe(spark)
    val checks = requests.map(checkPass(spark, probe, _, s"$out/answers"))
    val checkSeconds = (Clock.now() - c0) / 1e9
    // one more untimed pass: a request's second execution still ran ~1.5x
    // its later ones (the JIT keeps compiling driver code for a few passes
    // more, which the fixed pass count below keeps comparable)
    for (_ <- 1 to WarmupPasses; r <- requests) {
      val ctx = new Ctx(spark, 0L, traced = false)
      try drain(ctx, r.run(ctx), None) catch { case _: Throwable => () }
    }
    val setupSeconds = (Clock.now() - t0) / 1e9

    val hostStart = Host.probe(spark, cores)
    val tracer = new Tracer(spark)
    val samples = ArrayBuffer[Sample]()
    val clientSpans = ArrayBuffer[Span]()
    val rng = new scala.util.Random(seed)
    var pass = 0
    var nextId = 0L
    val heapAfterPass = ArrayBuffer[Double]()

    def sample(r: Request, traced: Boolean): Unit = {
      nextId += 1
      val ctx = new Ctx(spark, nextId, traced)
      if (traced) tracer.start()
      val start = Clock.now()
      val error = try { drain(ctx, r.run(ctx), None); null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      val end = Clock.now()
      if (traced) tracer.stop()
      samples += Sample(ctx.request, r.name, pass, traced, (end - start) / 1e9, error,
        ctx.counts.toMap)
      if (traced) {
        clientSpans += Span(s"r${ctx.request}", null, ctx.request, "request", start, end,
          Map("pass" -> pass.toDouble))
        clientSpans ++= ctx.spans
      }
    }

    // a fixed number of whole timed passes, one per started PassSeconds
    // of --seconds: the passes still speed up after the warm-up, so a pass
    // count that followed the clock would change what the medians measure
    // from run to run. Traced, each request runs twice in a row, untraced
    // and traced, in an order that alternates by pass: the two samples of
    // a pair share the machine's state, and trace.overhead compares like
    // with like. A traced pass so takes two untraced ones' time, and a
    // traced run makes half as many passes, rounded down to an even count
    // (two at least)
    val wanted = math.max(1, math.ceil(seconds / PassSeconds).toInt)
    val passes = if (trace) 2 * math.max(1, wanted / 4) else wanted
    while (pass < passes) {
      val order = if (!trace) Seq(false) else if (pass % 2 == 0) Seq(false, true)
        else Seq(true, false)
      for (r <- rng.shuffle(requests); traced <- order) sample(r, traced)
      pass += 1
      heapAfterPass += liveHeapMb(spark)
    }
    val hostEnd = Host.probe(spark, cores)

    val record = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupSeconds, "session_start_s" -> sessionStart,
      "check_pass_s" -> checkSeconds,
      "passes" -> pass, "heap_live_mb" -> heapAfterPass.max,
      "heap_after_pass_mb" -> heapAfterPass,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "confs" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "checks" -> checks,
      "samples" -> samples.map(s => Map("id" -> s.id, "request" -> s.request, "pass" -> s.pass,
        "traced" -> s.traced, "seconds" -> s.seconds, "error" -> s.error,
        "counts" -> s.counts)))
    write(s"$out/record.json", record)
    if (trace)
      write(s"$out/spans.json", (clientSpans ++ tracer.all).map(_.toJson))
    spark.stop()
  }

  /** Driver heap in use after a full GC, read outside the timed requests
    * once the listener bus has delivered its events (a backlog would be
    * counted). The first GC lets Spark's ContextCleaner find unreachable
    * broadcasts and shuffles; the later ones, after the cleaner has had
    * time to drop their blocks, free those too. Of two readings the
    * smaller is kept: Spark's background threads sometimes hold a few MB
    * for a moment. */
  private def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    System.gc()
    Seq.fill(2) {
      Thread.sleep(250)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  /** Runs a request's answer to completion inside its client span: to
    * parquet under `answers` in the check pass, else to the noop sink. */
  private def drain(ctx: Ctx, answer: Answer, answers: Option[String]): Answer = {
    answer match {
      case Frame(df) => ctx.span("action") {
        answers match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      }
      case _: Values => ()
    }
    answer
  }

  /** One untimed run of the request whose answer is recorded for the
    * DuckDB check, with its builtin twin's answer if it has one, and
    * whether its dense kernel ran if it names one. */
  private def checkPass(spark: SparkSession, probe: PathProbe, r: Request,
                        answers: String): Map[String, Any] = {
    val base = Map("request" -> r.name, "data" -> r.data, "sql" -> r.sql, "tol" -> r.tol,
      "kernel" -> r.kernel)
    try {
      val path = s"$answers/${r.name.replace('@', '_')}"
      val ctx = new Ctx(spark, 0L, traced = false)
      val (answer, ran) = probe.observe(drain(ctx, r.run(ctx), Some(path)))
      val kernelRan = Map("kernel_ran" -> r.kernel.map(ran.contains))
      answer match {
        case _: Frame => base ++ kernelRan ++ Map("kind" -> "frame", "path" -> path)
        case v: Values => base ++ kernelRan ++ Map("kind" -> "values", "rows" -> v.rows,
          "twin_rows" -> r.twin.map(_().rows))
      }
    } catch {
      case e: Throwable =>
        base ++ Map("kind" -> "error", "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  /** Non-finite doubles are written as the bare tokens Python's json
    * module reads back as floats. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  private def write(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    json.writeValue(Paths.get(path).toFile, value)
  }
}

/** Host controls with no query code in them: generated-rows throughput
  * through Spark's noop sink, and raw memory-copy bandwidth. Reported
  * raw at the start and end of each run. */
object Host {
  def probe(spark: SparkSession, cores: Int): Map[String, Double] =
    Map("gen_only_rows_per_s" -> genOnly(spark), "mem_bw_gbps" -> memBandwidth(cores))

  /** Second of two runs: the first compiles the plan. */
  private def genOnly(spark: SparkSession): Double = {
    val n = 10000000L
    def run(): Double = {
      val t = System.nanoTime()
      spark.range(n).select((col("id") % 100).as("k"), (col("id") % 1000).cast("double").as("x"))
        .write.format("noop").mode("overwrite").save()
      n / ((System.nanoTime() - t) / 1e9)
    }
    run()
    run()
  }

  /** GB/s of array copy (bytes read + written) over `threads` threads. */
  private def memBandwidth(threads: Int): Double = {
    val words = 4 << 20
    val reps = 8
    val bufs = Array.fill(threads)((new Array[Long](words), new Array[Long](words)))
    val t = System.nanoTime()
    val ts = bufs.map { case (a, b) =>
      val th = new Thread(() => (1 to reps).foreach(_ => System.arraycopy(a, 0, b, 0, words)))
      th.start(); th
    }
    ts.foreach(_.join())
    2.0 * 8 * words * reps * threads / ((System.nanoTime() - t) / 1e9) / 1e9
  }
}
