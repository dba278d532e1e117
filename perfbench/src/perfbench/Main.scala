package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Graft, GraftFunctions, SparkEntry}

/** Benchmark JVM: set-up, one cold pass, timed warm passes, untimed output
  * checks. Writes raw samples and counters to `<work>/raw.json`; the Python
  * driver turns them into metrics.
  *
  * {{{
  * perfbench.Main --mode run --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --base SEED_CORPUS_DIR
  * perfbench.Main --mode gen --workload W --seed N --work DIR --base DIR
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val work = a("work")
    val base = a("base")
    require(Workloads.all.contains(workload), s"unknown workload $workload")
    Files.createDirectories(Paths.get(work))
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Graft.sessionBuilder(s"local[$nproc]", Some(nproc))
      .config("spark.ui.enabled", "false")
      // the status store's job/SQL history would otherwise grow with the
      // number of passes a run fits and blur peak_heap_mb
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    try a("mode") match {
      case "gen" =>
        val w = Workloads.all(workload)()
        val stats = Inputs.generate(spark, base, s"$work/inputs", seed, w.scale, w.tables)
        stats.foreach(t => println(s"[gen] ${t.name} rows=${t.rows} bytes=${t.bytes}"))
      case "run" =>
        val run = new Run(spark, workload, seed, a("seconds").toDouble, a("trace") == "1",
          work, base, nproc)
        Files.write(Paths.get(s"$work/raw.json"), run.execute().getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** Fixed-work CPU probe on every core at once (Spark runs local[nproc]):
    * each of `threads` threads hashes 4 MiB with SHA-256 24 times.
    */
  def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val workers = (1 to threads).map { t =>
      val th = new Thread(() => {
        val buf = Array.tabulate[Byte](4 << 20)(i => (i * 31 + t).toByte)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        var i = 0
        while (i < 24) { md.update(buf); buf(i) = md.digest()(0); i += 1 }
      })
      th.start()
      th
    }
    workers.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

final class Run(
    spark: SparkSession,
    workloadName: String,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    work: String,
    base: String,
    nproc: Int) {
  import Json._

  private val tracer = new Tracer(s"$workloadName-$seed")
  private val layers = new Layers(tracer)
  private val sc = spark.sparkContext
  if (traced) {
    sc.addSparkListener(layers)
    spark.listenerManager.register(layers)
  }

  private def now(): Double = System.nanoTime() / 1e9

  private final case class JobRecord(name: String, kind: String, buildS: Double,
      actionS: Double, error: Option[String])
  private final case class PassRecord(index: Int, timed: Boolean, traced: Boolean,
      wallS: Double, jobs: Seq[JobRecord], counters: Map[String, Double])

  def execute(): String = {
    val mx = ManagementFactory.getRuntimeMXBean
    val codegen0 = codegenSnapshot()
    val sessionS = (System.currentTimeMillis() - mx.getStartTime) / 1e3

    // set-up, once: input generation and the workload's fixtures
    val t0 = now()
    val wl = Workloads.all(workloadName)()
    val stats = Inputs.generate(spark, base, s"$work/inputs", seed, wl.scale, wl.tables)
    val genS = now() - t0
    val ctx = new Ctx(spark, s"$work/inputs", work, seed, nproc)
    wl.setup(ctx)
    val fixtureS = now() - t0 - genS
    // from JVM start to the first timed job
    val setupS = (System.currentTimeMillis() - mx.getStartTime) / 1e3
    System.err.println(f"[perfbench] set-up $setupS%.2f s (session $sessionS%.2f s, " +
      f"inputs $genS%.2f s, fixtures $fixtureS%.2f s)")

    val passes = mutable.ArrayBuffer.empty[PassRecord]
    var heapPeakMb = 0.0
    def onePass(i: Int, timed: Boolean, trace: Boolean): PassRecord = {
      tracer.enabled = trace
      layers.window = new Counters
      ctx.rowsWritten.clear()
      ctx.jdbcMs.clear()
      val jobs0 = wl.jobs(ctx, i)
      val jobs = if (wl.shuffle) new scala.util.Random(seed * 31 + i).shuffle(jobs0) else jobs0
      val startMs = System.currentTimeMillis()
      val t0 = now()
      val records = tracer.span(s"pass-$i", "pass") {
        jobs.map(j => runJob(ctx, j))
      }
      val wall = now() - t0
      System.err.println(f"[perfbench] pass $i $wall%.2f s " +
        records.map(r => f"${r.name}=${r.buildS + r.actionS}%.2f").mkString(" "))
      val endMs = System.currentTimeMillis()
      val counters = mutable.LinkedHashMap.empty[String, Double]
      if (trace) {
        org.apache.spark.PerfbenchBus.drain(sc)
        val w = layers.window
        counters ++= w.values
        val jobsUnion = unionMs(w.jobIntervals.toSeq, startMs, endMs)
        val allUnion = unionMs((w.jobIntervals ++ w.phaseIntervals).toSeq, startMs, endMs)
        counters("sched.driver_gap_ms") = math.max(0.0, (endMs - startMs) - jobsUnion)
        counters("trace.unaccounted_pct") =
          100.0 * math.max(0.0, (endMs - startMs) - allUnion) / math.max(1.0, endMs - startMs)
        counters("job.build_ms") = records.map(_.buildS).sum * 1e3
        counters("job.action_ms") = records.map(_.actionS).sum * 1e3
        counters("sources.jdbc_read_ms") = ctx.jdbcMs("read")
        counters("sinks.jdbc_write_ms") = ctx.jdbcMs("write")
        counters("sinks.rows_written") =
          w.values("sinks.file_rows_written") + ctx.rowsWritten.values.sum
        counters("sources.rows_read_per_row_out") =
          w.values("sources.rows_read") / math.max(1.0, counters("sinks.rows_written"))
        val graphJobs = records.filter(_.name.startsWith("graph_"))
        val rounds = graphJobs.map(j => w.ckptJobsByJob(j.name)).sum
        if (rounds > 0) {
          counters("graph.round_ms") = graphJobs.map(j => j.buildS + j.actionS).sum * 1e3 / rounds
          counters("graph.jobs_per_round") =
            graphJobs.map(j => w.sparkJobsByJob(j.name)).sum.toDouble / rounds
        }
        counters("tokenizer.cpu_ms") = records.filter(_.name.endsWith("_encode"))
          .map(j => w.cpuMsByJob(j.name)).sum
      }
      wl.afterPass(ctx, (k, v) => counters(k) = counters.getOrElse(k, 0.0) + v)
      counters("ckpt.live_after_pass") = sc.getPersistentRDDs.size
      tracer.enabled = false
      System.gc()
      heapPeakMb = math.max(heapPeakMb, oldGenUsedMb())
      PassRecord(i, timed, trace, wall, records, counters.toMap)
    }

    // the cold pass: the first pass in a fresh JVM, reported on its own
    passes += onePass(0, timed = false, trace = false)
    val codegenCold = codegenSnapshot()
    (1 to wl.warmup).foreach(i => passes += onePass(i, timed = false, trace = false))
    val windowStart = now()
    var m = 0
    // traced runs trace passes in the order traced, untraced, untraced,
    // traced: the difference of the two medians is the tracing overhead, and
    // a warm-up trend across the four passes cancels out of it
    val minPasses = if (traced) math.max(4, wl.minPasses) else wl.minPasses
    while (now() - windowStart < seconds || m < minPasses) {
      passes += onePass(1 + wl.warmup + m, timed = true,
        trace = traced && (m % 4 == 0 || m % 4 == 3))
      m += 1
    }
    val measuredS = now() - windowStart
    // the host probe runs outside every timed region
    val calib = (1 to 3).map(_ => Main.calibrate(nproc)).sorted.apply(1)

    // ---- untimed checks ----
    tracer.enabled = false
    val lastJobs = wl.jobs(ctx, -1).map(j => j.name -> j).toMap
    val checks = mutable.ArrayBuffer.empty[String]
    val jvmChecks = mutable.ArrayBuffer.empty[(String, Option[String])]
    val failedJobs = passes.flatMap(_.jobs).filter(_.error.isDefined).map(_.name).toSet
    val extraChecks = wl.finalChecks(ctx)
    // pinned values were captured on the sf0.01 corpus: those queries run
    // there once more, side by side, and are checked against the pin
    val pinned = mutable.ArrayBuffer.empty[(String, String, String)]
    def checkOne(job: String, check: Check): Unit = check match {
      case Oracle(q) =>
        SparkEntry.oracleSql.get(q) match {
          case None => jvmChecks += (job -> Some("no oracle for this query"))
          case Some(sql) if sql.contains("FROM (VALUES") => pinned += ((job, q, sql))
          case Some(sql) =>
            checks += obj("job" -> str(job), "output" -> str(ctx.target(job)),
              "sql" -> str(sql), "inputs" -> str(ctx.inputs), "kind" -> str("oracle"))
        }
      case Sql(sql) =>
        checks += obj("job" -> str(job), "output" -> str(ctx.target(job)), "sql" -> str(sql),
          "inputs" -> str(ctx.inputs), "kind" -> str("sql"))
      case Jvm(f) =>
        jvmChecks += (job -> (try f() catch { case e: Throwable => Some(errorText(e)) }))
      case Covered => ()
    }
    lastJobs.foreach { case (n, j) => if (!failedJobs(n)) checkOne(n, j.check) }
    extraChecks.foreach { case (n, c) => checkOne(n, c) }
    Inputs.inParallel(pinned.toSeq.map { case (job, q, sql) => () =>
      val out = s"$work/pin_targets/$job"
      try {
        SparkEntry.queries(q)(spark, base).write.mode("overwrite").parquet(out)
        Left(obj("job" -> str(job), "output" -> str(out), "sql" -> str(sql),
          "inputs" -> str(base), "kind" -> str("pin")))
      } catch { case e: Throwable => Right(job -> Some(errorText(e))) }
    }).foreach {
      case Left(c) => checks += c
      case Right(e) => jvmChecks += e
    }
    val extraValues = try wl.extraValues(ctx) catch {
      case e: Throwable => jvmChecks += ("extra_values" -> Some(errorText(e))); Map.empty[String, Double]
    }
    System.err.println(f"[perfbench] probe and checks ${now() - windowStart - measuredS}%.2f s")
    val tokens =
      if (traced) tokenCount(ctx, lastJobs.keys.filter(_.endsWith("_encode")).toSeq) else 0L

    if (traced) writeSpans(mx.getStartTime)
    val env = obj(
      "nproc" -> num(nproc),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "spark_version" -> str(spark.version),
      "jdk_version" -> str(System.getProperty("java.version")),
      "scala_version" -> str(scala.util.Properties.versionNumberString),
      "seed" -> num(seed),
      "box_calib_s" -> num(calib))
    obj(
      "workload" -> str(workloadName),
      "env" -> env,
      "inputs" -> arr(stats.map(t => obj("table" -> str(t.name), "rows" -> num(t.rows),
        "bytes" -> num(t.bytes)))),
      "scale" -> obj("relational" -> num(wl.scale.relational), "text" -> num(wl.scale.text)),
      "setup_s" -> num(setupS),
      "setup_session_s" -> num(sessionS),
      "setup_gen_s" -> num(genS),
      "setup_fixture_s" -> num(fixtureS),
      "measured_s" -> num(measuredS),
      "heap_peak_mb" -> num(heapPeakMb),
      "codegen" -> obj(
        "compile_ms" -> num((codegenCold._1 - codegen0._1) / 1e6),
        "classes" -> num(codegenCold._2 - codegen0._2)),
      "tokens" -> num(tokens),
      "passes" -> arr(passes.map { p =>
        obj("index" -> num(p.index), "timed" -> bool(p.timed), "traced" -> bool(p.traced),
          "wall_s" -> num(p.wallS),
          "counters" -> obj(p.counters.toSeq.map { case (k, v) => k -> num(v) }: _*),
          "jobs" -> arr(p.jobs.map { j =>
            obj("name" -> str(j.name), "kind" -> str(j.kind), "build_s" -> num(j.buildS),
              "action_s" -> num(j.actionS), "error" -> j.error.map(str).getOrElse("null"))
          }))
      }),
      "extra_samples" -> obj(wl.extraSamples.toSeq.map { case (k, v) => k -> arr(v.map(num)) }: _*),
      "extra_values" -> obj(extraValues.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "checks" -> arr(checks.toSeq),
      "jvm_checks" -> arr(jvmChecks.toSeq.map { case (n, e) =>
        obj("job" -> str(n), "error" -> e.map(str).getOrElse("null"))
      }))
  }

  private def runJob(ctx: Ctx, j: Job): JobRecord = {
    sc.setLocalProperty(Layers.JobKey, j.name)
    def tagged[T](name: String)(body: => T): T = tracer.span(name, name) {
      sc.setLocalProperty(Layers.SpanKey, tracer.current.toString)
      body
    }
    val t0 = now()
    var t1 = t0
    try {
      tracer.span(j.name, j.kind) {
        val action = tagged("build")(j.build(ctx))
        t1 = now()
        tagged("action")(action())
      }
      JobRecord(j.name, j.kind, t1 - t0, now() - t1, None)
    } catch {
      case e: Throwable =>
        val t = now()
        JobRecord(j.name, j.kind, t1 - t0, t - t1, Some(errorText(e)))
    }
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def codegenSnapshot(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def oldGenUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed / 1048576.0)
      .sum
  }

  /** Length of the union of `[start, end)` intervals clipped to the window. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total.toDouble
  }

  /** Tokens the tokenizer jobs emitted: their `n_*_tokens` counts, summed. */
  private def tokenCount(ctx: Ctx, jobs: Seq[String]): Long = jobs.map { j =>
    val df = spark.read.parquet(ctx.target(j))
    val counts = df.columns.filter(c => c.startsWith("n_") && c.endsWith("_tokens"))
    if (counts.isEmpty) 0L
    else df.selectExpr(counts.map(c => s"coalesce(sum($c), 0)"): _*).head()
      .toSeq.map(_.asInstanceOf[Long]).sum
  }.sum

  private def writeSpans(startMs: Long): Unit = {
    tracer.add(Span(tracer.rootId, 0L, tracer.trace, workloadName, "workload", startMs,
      System.currentTimeMillis(), Map.empty))
    val lines = tracer.spans.sortBy(_.startMs).map { s =>
      obj("trace" -> str(s.trace), "id" -> num(s.id), "parent" -> num(s.parent),
        "name" -> str(s.name), "kind" -> str(s.kind), "start_ms" -> num(s.startMs),
        "end_ms" -> num(s.endMs),
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> num(v) }: _*))
    }
    Files.write(Paths.get(s"$work/spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the raw record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
