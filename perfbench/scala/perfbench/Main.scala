package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs and calls
  *
  *   perfbench.Main <workload> <inDir> <workDir> <benchDir> <seconds> <trace 0|1> <setupReps> <outJson> <traceDir>
  *
  * Set-up is repeated `setupReps` times (fresh session + warm-up); then a
  * closed loop of passes runs, each pass on a fresh session. A traced run
  * makes three passes, untraced, traced, untraced, so the record states
  * the tracing overhead against the untraced pass that follows. The
  * result is written to `outJson`; `run.py` prints it.
  *
  *   perfbench.Main capture <tablesDir> <workDir> <query>...
  *
  * runs each named query cold and prints `name rows digest seconds`, the
  * source of `digests.json`. */
object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.scratchDir", work.resolve("scratch").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Old-generation MiB in use, read right after a full collection.
    * Collected until a reading no longer falls (at most six times): each
    * collection lets Spark's cleaner drop what only it still referenced,
    * which frees more at the next one. */
  def liveHeapMb(): Seq[Double] = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old Gen"))
    def collect(): Double = {
      System.gc()
      old.map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    val reads = collection.mutable.ArrayBuffer(collect())
    while (reads.length < 6 && (reads.length < 2 || reads(reads.length - 2) - reads.last > 0.5)) {
      Thread.sleep(200)
      reads += collect()
    }
    reads.toSeq
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (total, steal) jiffies from the aggregate line of /proc/stat. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("capture") => capture(args.toSeq.drop(1))
    case Some("selftest") => selftest(args.toSeq.drop(1))
    case Some("train") => train(args.toSeq.drop(1))
    case _ => bench(args.toSeq)
  }

  /** One traced pass of every workload, so that the build can archive
    * the classes a run loads (class data sharing); see build.py. */
  private def train(args: Seq[String]): Unit = {
    val Seq(inRoot, workDir, benchDir) = args
    Seq("query_suite", "embed_backfill", "curation_day").foreach { name =>
      val work = Paths.get(workDir).resolve(name)
      val wl = Workloads(name, Paths.get(inRoot).resolve(name), Paths.get(benchDir))
      val spark = session(work)
      val tr = new Tracer(name)
      wl.warmUp(spark, work.resolve("warm"))
      tr.enabled = true
      tr.attach(spark)
      wl.pass(spark, new Ops(tr), work.resolve("pass"), 0)
      tr.detach(spark)
      spark.stop()
    }
  }

  /** The harness's own checks: the digest rejects perturbed results, and
    * span counters match jobs whose shape is known. Exits 1 on a miss. */
  private def selftest(args: Seq[String]): Unit = {
    val Seq(workDir, tables, benchDir) = args
    val work = Paths.get(workDir)
    val spark = session(work)
    var misses = 0
    def expect(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) misses += 1
    }
    val q = "q01_pricing_summary"
    val want = new QuerySuite(Paths.get(tables).getParent, Paths.get(benchDir)).expected(q)
    val df = graft.SparkEntry.queries(q)(spark, tables)
    val rows = df.collect()
    def dg(rs: Array[org.apache.spark.sql.Row]) = (rs.length.toLong, QuerySuite.digest(df.schema, rs))
    expect(dg(rows) == want, s"$q matches its captured digest")
    expect(dg(rows.reverse) == want, "the digest ignores row order")
    val r0 = rows(0)
    val bumped = org.apache.spark.sql.Row.fromSeq(r0.toSeq.map {
      case d: Double => d * (1 + 1e-9)
      case other => other
    })
    expect(dg(rows.updated(0, bumped)) != want, "a value changed by 1e-9 is rejected")
    expect(dg(rows.drop(1)) != want, "a dropped row is rejected")
    expect(dg(rows.updated(1, rows(0))) != want, "a row replaced by a copy of another is rejected")

    val hd7 = Stats.hdMedian(Seq(7.0, 1, 6, 2, 5, 3, 4))
    expect(math.abs(hd7 - 4.0) < 1e-9 && Stats.hdMedian(Seq(2.5)) == 2.5,
      s"the Harrell-Davis median of 1..7 is 4 (got $hd7), of one sample that sample")

    val tr = new Tracer("selftest")
    tr.enabled = true
    tr.attach(spark)
    tr.span(spark, "known.shuffle") {
      spark.sparkContext.parallelize(1 to 1000, 4).map(i => (i % 10, i)).reduceByKey(_ + _, 3).collect()
    }
    val out = work.resolve("known-write")
    tr.span(spark, "known.write") {
      spark.range(0, 1000, 1, 2).write.mode("overwrite").parquet(out.toString)
    }
    tr.detach(spark)
    val c = tr.all.map(s => s.name -> s.counters.toMap.withDefaultValue(0.0)).toMap
    val sh = c("known.shuffle")
    expect(sh("jobs") == 1 && sh("stages") == 2 && sh("tasks") == 7,
      s"a 4-into-3 partition shuffle counts 1 job, 2 stages, 7 tasks (got $sh)")
    expect(sh("shuffle_write_bytes") > 0 && sh("shuffle_write_bytes") == sh("shuffle_read_bytes"),
      "its shuffle bytes written equal the bytes read")
    val parts = Files.list(out)
    val partBytes = try parts.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).map(Files.size(_)).sum
      finally parts.close()
    val w = c("known.write")
    expect(w("jobs") == 1 && w("tasks") == 2 && w("files") == 2,
      s"a 2-partition parquet write counts 1 job, 2 tasks, 2 files (got $w)")
    expect(w("bytes_out") == partBytes.toDouble,
      s"its bytes out equal the part files' size ($partBytes)")
    spark.stop()
    rmTree(out)
    if (misses > 0) sys.exit(1)
  }

  private def capture(args: Seq[String]): Unit = {
    val Seq(tables, workDir, names @ _*) = args
    val work = Paths.get(workDir)
    names.foreach { q =>
      val spark = session(work)
      try {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(q)(spark, tables)
        val rows = df.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        println(s"$q ${rows.length} ${QuerySuite.digest(df.schema, rows)} $secs")
      } catch {
        case e: Exception => println(s"$q FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally spark.stop()
    }
  }

  private def bench(args: Seq[String]): Unit = {
    val Seq(name, inDir, workDir, benchDir, secondsS, traceS, repsS, outJson, traceDir) = args
    val work = Paths.get(workDir)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val wl = Workloads(name, Paths.get(inDir), Paths.get(benchDir))
    val runId = s"$name-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(runId)
    val t0 = System.nanoTime()

    // set-up: each repetition starts a session and warms up; the last
    // session serves the first pass
    var spark: SparkSession = null
    val setupS = (1 to repsS.toInt).map { i =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(work)
      wl.warmUp(spark, work.resolve(s"warm$i"))
      rmTree(work.resolve(s"warm$i"))
      (System.nanoTime() - s0) / 1e9
    }

    val nominal = math.max(1, math.round(seconds / wl.nominalPassS).toInt)
    val passes = if (trace) 3 else nominal
    val ops = new Ops(tracer)
    val passWall = collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val untracedOps = collection.mutable.ArrayBuffer.empty[(String, Double)]
    var peakHeap = 0.0
    val heapReads = collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val load0 = loadAvg()
    val (cpu0, steal0) = cpuStat()
    for (k <- 0 until passes) {
      if (k > 0) spark = session(work)
      val traced = trace && k == 1
      tracer.enabled = traced
      if (traced) tracer.attach(spark)
      val passDir = work.resolve(s"pass$k")
      val before = ops.samples.length
      val p0 = System.nanoTime()
      wl.pass(spark, ops, passDir, k)
      tracer.note("input_bytes", wl.inputBytesPerPass.toDouble)
      // the pass wall counts only its operations: checks run between them
      val wall = ops.samples.drop(before).map(_._2).sum
      passWall += ((wall, traced))
      if (!traced) untracedOps ++= ops.samples.drop(before)
      if (traced) tracer.detach(spark)
      tracer.enabled = false
      val heap = liveHeapMb()
      heapReads += heap
      peakHeap = math.max(peakHeap, heap.last)
      rmTree(passDir)
      spark.stop()
      System.err.println(f"[perfbench] pass $k wall ${wall}%.3f s traced=$traced " +
        f"(${(System.nanoTime() - p0) / 1e9}%.1f s with checks)")
    }
    val load1 = loadAvg()
    val (cpu1, steal1) = cpuStat()
    val stealPct = if (cpu1 > cpu0) 100.0 * (steal1 - steal0) / (cpu1 - cpu0) else 0.0

    val untraced = passWall.filterNot(_._2).map(_._1).toSeq
    // op_p50_s is the Harrell-Davis median of every untraced sample: the
    // plain median of embed_backfill's seven unlike stages is whichever
    // stage sits in the middle, and moved with that one stage's noise.
    // op_tail_s ranks the operations by their median over the passes: in
    // query_suite the first pass also pays each query's first-use class
    // loading and code generation, and that median leaves the pass out
    val samples = untracedOps.map(_._2).toSeq
    val lat = untracedOps.groupBy(_._1).values
      .map(xs => Stats.median(xs.map(_._2).toSeq)).toSeq.sorted
    val telemetry = Map("cores" -> Cores, "steal_pct" -> stealPct,
      "load_start" -> load0, "load_end" -> load1, "passes" -> passes,
      "p50_samples" -> samples.length, "op_samples" -> lat.length, "setup_reps_s" -> setupS,
      "op_s" -> untracedOps.map { case (n, t) => Map(n -> t) }.toSeq,
      "wall_per_pass_s" -> passWall.map(_._1).toSeq, "heap_reads_mb" -> heapReads.toSeq)
    val layers =
      if (trace) Layers(tracer, passWall.toSeq, Cores, telemetry) else Map.empty[String, Double]
    if (trace) {
      Files.createDirectories(Paths.get(traceDir))
      val f = Paths.get(traceDir).resolve(s"$runId.json")
      Files.writeString(f, Json.obj("workload" -> name, "run" -> runId,
        "telemetry" -> telemetry, "layers" -> layers,
        "spans" -> Json.RawJson(tracer.toJson(t0))))
      System.err.println(s"[perfbench] trace record: $f")
    }
    val wallS = Stats.median(untraced)
    val result = Json.obj(
      "setup_jvm_s" -> setupS,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "end_to_end" -> (if (untraced.isEmpty) Map.empty[String, Double] else Map(
        "wall_s" -> wallS,
        "op_p50_s" -> Stats.hdMedian(samples),
        "op_tail_s" -> Stats.tail(lat),
        "docs_per_s" -> wl.docsPerPass / wallS,
        "peak_live_heap_mb" -> peakHeap)),
      "per_layer" -> layers,
      "telemetry" -> telemetry)
    Files.writeString(Paths.get(outJson), result)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The Harrell-Davis estimate of the median (Harrell and Davis, 1982):
    * the order statistics weighted by how much of a Beta((n+1)/2,
    * (n+1)/2) distribution falls in ((i-1)/n, i/n], so it rests on all
    * the samples near the middle rather than on the one or two in it. */
  def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }
  }

  /** The highest percentile with at least ten samples beyond it, the
    * (n-10)th smallest sample, once that lies above the median (n > 20);
    * below that the slowest sample. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else if (s.length > 20) s(s.length - 11) else s.last
  }
}

/** Per-layer metrics of a traced run's one traced pass. Layer names
  * follow the program's modules; see BENCHMARK.json and README.md. */
object Layers {
  def apply(tr: Tracer, passes: Seq[(Double, Boolean)], cores: Int,
            telemetry: Map[String, Any]): Map[String, Double] = {
    val spans = tr.all
    def sum(k: String, named: String => Boolean = _ => true): Double =
      spans.filter(s => named(s.name)).map(_.counters.getOrElse(k, 0.0)).sum
    def note(k: String): Double = tr.notes.getOrElse(k, 0.0)
    def dur(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
    def frac(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val tracedWall = passes.filter(_._2).map(_._1).sum
    val absorb = sum("index_write_s", _ == "dedup.screen")
    Map(
      "tables.jobs" -> sum("tables_jobs"),
      "tables.s" -> sum("tables_s"),
      "queries.build_s" -> dur("queries.build"),
      "queries.build_jobs" -> sum("jobs", _ == "queries.build"),
      "queries.exec_s" -> dur("queries.exec"),
      "planner.plan_s" -> sum("plan_s"),
      "scheduler.jobs" -> sum("jobs"),
      "scheduler.stages" -> sum("stages"),
      "scheduler.tasks" -> sum("tasks"),
      "session_stage.builds" -> note("stage_builds"),
      "session_stage.build_s" -> note("stage_build_s"),
      "exec.task_s" -> sum("task_s"),
      "exec.cpu_s" -> sum("cpu_s"),
      "exec.gc_s" -> sum("gc_s"),
      "shuffle.write_bytes" -> sum("shuffle_write_bytes"),
      "shuffle.read_bytes" -> sum("shuffle_read_bytes"),
      "shuffle.spill_bytes" -> sum("spill_bytes"),
      "broadcast.bytes" -> sum("broadcast_bytes"),
      "sink.bytes" -> sum("bytes_out"),
      "sink.files" -> sum("files"),
      "embed.title_s" -> dur("embed.title"),
      "embed.abstract_s" -> dur("embed.abstract"),
      "embed.compact_s" -> dur("embed.compact"),
      "embed.merge_s" -> dur("embed.merge"),
      "embed.missing_s" -> dur("embed.missing"),
      "embed.chunk_s" -> dur("embed.chunk"),
      "ingest.s" -> dur("ingest"),
      "dedup.screen_s" -> (dur("dedup.screen") - absorb),
      "dedup.absorb_s" -> absorb,
      "dedup.index_bytes" -> note("index_bytes"),
      "streaming.trigger_s" -> sum("trigger_s"),
      "streaming.commit_s" -> sum("commit_s"),
      "export.s" -> dur("export"),
      "trace.spans" -> spans.length.toDouble,
      "scheduler.slot_busy" -> frac(sum("task_s"), tracedWall * cores),
      "sink.write_amp" -> frac(sum("bytes_out"), note("input_bytes")),
      "ingest.good_frac" -> frac(note("good_rows"), note("lines")),
      "dedup.dup_frac" -> frac(note("dups"), note("screened")),
      "export.kept_frac" -> frac(note("kept"), note("landed")),
      // against the untraced pass after it: the first pass also pays the
      // session's cold start, the traced and the last pass do not
      "trace.overhead_s" -> (tracedWall - passes.filterNot(_._2).last._1),
      "run.cores" -> cores.toDouble,
      "run.steal_pct" -> telemetry("steal_pct").asInstanceOf[Double],
      "run.load_start" -> telemetry("load_start").asInstanceOf[Double])
  }
}
