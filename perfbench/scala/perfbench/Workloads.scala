package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The closed-loop operations of one run and the output checks made on
  * them. Every operation counts as attempted; one that throws or fails
  * a check counts as failed. Latency samples are kept per operation. */
final class Ops(val tr: Tracer) {
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val failures = mutable.ArrayBuffer.empty[String]
  private val failedIds = mutable.Set.empty[Int]
  var attempted = 0

  /** Time `body` as operation `name` inside span `span`; returns its
    * value, or None when it threw. */
  def run[T](spark: SparkSession, name: String, span: String)(body: => T): (Int, Option[T]) = {
    attempted += 1
    val id = attempted
    val t0 = System.nanoTime()
    try {
      val v = tr.span(spark, span)(body)
      samples += name -> (System.nanoTime() - t0) / 1e9
      (id, Some(v))
    } catch {
      case NonFatal(e) =>
        fail(id, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        (id, None)
    }
  }

  def fail(id: Int, msg: String): Unit = {
    failedIds += id
    if (failures.length < 50) failures += msg
  }

  def check(id: Int, ok: Boolean, msg: => String): Unit = if (!ok) fail(id, msg)

  def failed: Int = failedIds.size
}

/** One benchmark workload: a cheap warm-up that runs in each set-up,
  * and a pass of closed-loop operations over the generated inputs. */
trait Workload {
  /** Pass count is seconds / nominalPassS, so a run does a fixed amount
    * of work and every run yields the same number of samples. */
  def nominalPassS: Double
  def docsPerPass: Long
  def inputBytesPerPass: Long
  def warmUp(spark: SparkSession, work: Path): Unit
  /** Pass `k` of a run, working under `work`. */
  def pass(spark: SparkSession, ops: Ops, work: Path, k: Int): Unit
}

object Workloads {
  def apply(name: String, in: Path, benchDir: Path): Workload = name match {
    case "query_suite" => new QuerySuite(in, benchDir)
    case "embed_backfill" => new EmbedBackfill(in)
    case "curation_day" => new CurationDay(in)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def readJson(p: Path): Map[String, Any] = {
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(Files.readString(p)).values.asInstanceOf[Map[String, Any]]
  }
}

/** The 181-query driver contract, cold: a fresh session per pass (so
  * every `SessionStage` memo rebuilds) and an empty block cache before
  * each query. Odd passes run the seeded order backwards, so a query's
  * samples do not all carry the JIT warmth of one position. A 20 s run
  * makes four passes: the first, slower one also pays each query's
  * first-use class loading and code generation, so the per-query median
  * over the four rests on the three that follow it. */
final class QuerySuite(in: Path, benchDir: Path) extends Workload {
  import QuerySuite._
  private val dir = in.resolve("tables").toString
  lazy val expected: Map[String, (Long, String)] =
    Workloads.readJson(benchDir.resolve("digests.json")).map {
      case (k, v: Map[String, Any] @unchecked) =>
        k -> (v("rows").asInstanceOf[BigInt].toLong, v("digest").asInstanceOf[String])
      case (k, v) => throw new IllegalStateException(s"bad digest entry $k: $v")
    }
  private lazy val order: Seq[String] =
    Files.readString(in.resolve("order.txt")).linesIterator.filter(_.nonEmpty).toSeq

  val nominalPassS = 5.0
  def docsPerPass: Long = 500L // rows of the generated documents table
  def inputBytesPerPass: Long = Workloads.dirBytes(in.resolve("tables"))

  def warmUp(spark: SparkSession, work: Path): Unit =
    WarmUp.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())

  def pass(spark: SparkSession, ops: Ops, work: Path, k: Int): Unit = {
    val builds0 = graft.ops.SessionStage.buildSecs
    (if (k % 2 == 0) order else order.reverse).foreach { q =>
      spark.catalog.clearCache()
      val (id, rows) = ops.run(spark, q, "queries") {
        val df = ops.tr.span(spark, "queries.build")(graft.SparkEntry.queries(q)(spark, dir))
        ops.tr.span(spark, "queries.exec")((df.schema, df.collect()))
      }
      rows.foreach { case (schema, rs) =>
        val got = (rs.length.toLong, digest(schema, rs))
        expected.get(q) match {
          case Some(want) => ops.check(id, got == want, s"$q: got $got, want $want")
          case None => ops.check(id, ok = false, s"$q: no captured digest")
        }
      }
    }
    spark.catalog.clearCache()
    val builds1 = graft.ops.SessionStage.buildSecs
    val grown = builds1.filter { case (k, v) => v > builds0.getOrElse(k, 0.0) }
    ops.tr.note("stage_builds", grown.size)
    ops.tr.note("stage_build_s", grown.map { case (k, v) => v - builds0.getOrElse(k, 0.0) }.sum)
  }
}

object QuerySuite {
  val WarmUp: Seq[String] = Seq("q01_pricing_summary", "q23_dedup_exact")

  /** Order-insensitive digest of a result: the schema's column names and
    * the wrapping sum of one 64-bit hash per row. Doubles are rounded to
    * 12 significant digits so only a changed value, not the last bit of
    * an aggregation order, moves it. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach(r => acc += hash64(canon(r)))
    f"${hash64(schema.fieldNames.mkString(","))}%016x-$acc%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite || d == 0.0) d.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12)).toString

  private def hash64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(md).getLong
  }
}

/** The reference's embed job end to end (SURVEY EP1-EP3): embed titles
  * and abstracts into 3,200-row shards, compact to 100k-row files, merge
  * 0.2/0.8, find the ids missing from a processed set with planted gaps,
  * and chunk-embed the abstracts over 512 tokens. */
final class EmbedBackfill(in: Path) extends Workload {
  private val Dim = 768
  private val ShardRows = 3200
  private val CompactRows = 100000
  private val truth = Workloads.readJson(in.resolve("truth.json"))
  private val nRows = truth("n_rows").asInstanceOf[BigInt].toLong
  private val nLong = truth("n_long").asInstanceOf[BigInt].toLong
  private val gaps = truth("gap_ids").asInstanceOf[List[BigInt]].map(_.toLong)

  val nominalPassS = 20.0
  def docsPerPass: Long = nRows
  def inputBytesPerPass: Long = Workloads.dirBytes(in.resolve("arxiv"))

  def warmUp(spark: SparkSession, work: Path): Unit =
    graft.pipeline.EmbedPipeline.embedJob(spark, in.resolve("warm").toString,
      work.resolve("warm").toString, "id", "abstract", Dim, ShardRows)

  def pass(spark: SparkSession, ops: Ops, work: Path, k: Int): Unit = {
    val input = in.resolve("arxiv").toString
    val n = nRows
    def p(name: String) = work.resolve(name).toString
    def rowsCheck(id: Int, got: Option[Long], want: Long, what: String): Unit =
      got.foreach(g => ops.check(id, g == want, s"$what wrote $g rows, want $want"))

    Seq("title", "abstract").foreach { c =>
      val (id, rows) = ops.run(spark, s"embed.$c", s"embed.$c") {
        graft.pipeline.EmbedPipeline.embedJob(spark, input, p(c), "id", c, Dim, ShardRows)
      }
      rowsCheck(id, rows, n, s"embed.$c")
      if (rows.isDefined) {
        val dims = spark.read.parquet(p(c)).agg(min(size(col("embedding"))),
          max(size(col("embedding")))).head()
        ops.check(id, dims.getInt(0) == Dim && dims.getInt(1) == Dim,
          s"embed.$c dimensions ${dims.getInt(0)}..${dims.getInt(1)}, want $Dim")
      }
    }
    Seq("title", "abstract").foreach { c =>
      val (id, st) = ops.run(spark, s"embed.compact_$c", "embed.compact") {
        graft.pipeline.EmbedPipeline.compactJob(spark, p(c), p(s"${c}_c"), CompactRows)
      }
      st.foreach { s =>
        ops.check(id, s.rowsIn == n && s.rowsOut == n,
          s"compact $c: ${s.rowsIn} in, ${s.rowsOut} out, want $n")
        val perFile = spark.read.parquet(p(s"${c}_c")).groupBy(input_file_name())
          .count().agg(max(col("count")), count(lit(1))).head()
        ops.check(id, perFile.getLong(0) <= CompactRows &&
          perFile.getLong(1) == (n + CompactRows - 1) / CompactRows,
          s"compact $c: ${perFile.getLong(1)} files, largest ${perFile.getLong(0)} rows")
      }
    }
    val (mergeId, merged) = ops.run(spark, "embed.merge", "embed.merge") {
      graft.pipeline.EmbedPipeline.mergeJob(spark, p("title_c"), p("abstract_c"), p("merged"), 0.2)
    }
    rowsCheck(mergeId, merged, n, "merge")
    if (merged.isDefined) {
      val m = spark.read.parquet(p("merged"))
      val raw = spark.read.parquet(input).select("id")
      val bad = m.select("id").except(raw).count() + raw.except(m.select("id")).count()
      val dims = m.agg(min(size(col("embedding"))), max(size(col("embedding")))).head()
      ops.check(mergeId, bad == 0 && dims.getInt(0) == 2 * Dim && dims.getInt(1) == 2 * Dim,
        s"merge misaligned: $bad ids differ, dims ${dims.getInt(0)}..${dims.getInt(1)}")
    }
    val (missId, missing) = ops.run(spark, "embed.missing", "embed.missing") {
      import spark.implicits._
      val processed = spark.read.parquet(p("merged")).select("id")
        .join(gaps.toDF("id"), Seq("id"), "left_anti")
      val feed = graft.pipeline.EmbedPipeline.missingIds(
        spark.read.parquet(input).select("id", "title", "abstract"), processed, "id")
      graft.ops.Metrics.observedParquetWrite(feed, p("missing")).rows
    }
    missing.foreach { m =>
      val ids = spark.read.parquet(p("missing")).select("id").collect().map(_.getLong(0)).toSet
      ops.check(missId, m == gaps.size && ids == gaps.toSet,
        s"missing ids: $m found, ${gaps.size} planted")
    }
    val (chunkId, chunked) = ops.run(spark, "embed.chunk", "embed.chunk") {
      val long = spark.read.parquet(input)
        .filter(size(graft.ops.TextOps.tokens(col("abstract"))) > 512)
      graft.pipeline.EmbedPipeline.chunkEmbedJob(spark, long, p("chunked"), "id", "abstract", 512, Dim)
    }
    rowsCheck(chunkId, chunked, nLong, "chunk backfill")
  }
}

/** A streamed curation day: delivery 0 builds the dedup index, each
  * later JSONL delivery lands and goes through the streaming twins
  * (quarantining ingest, then screen-and-absorb), and the landed corpus
  * is exported. */
final class CurationDay(in: Path) extends Workload {
  private val truth = Workloads.readJson(in.resolve("truth.json"))
  private val deliveries = truth("deliveries").asInstanceOf[List[Map[String, Any]]]
  private val nDocs = truth("n_docs").asInstanceOf[BigInt].toLong
  private val Schema = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")

  val nominalPassS = 20.0
  def docsPerPass: Long = nDocs
  def inputBytesPerPass: Long = Workloads.dirBytes(in.resolve("day"))

  /** One 100-doc delivery through both streaming twins: otherwise the
    * first delivery of a pass pays the screen's first-use class loading
    * and code generation, by an amount that varies from run to run. */
  def warmUp(spark: SparkSession, work: Path): Unit = {
    val warm = in.resolve("warm")
    def p(n: String) = work.resolve(n).toString
    graft.pipeline.DedupIndex.build(spark,
      spark.read.parquet(warm.resolve("base.parquet").toString).select("doc_id", "text"),
      p("index"))
    graft.streaming.JsonlIngestStream.runOnce(spark, warm.resolve("deliveries").toString,
      p("good"), p("quarantine"), p("ck"), Schema)
    graft.streaming.DedupScreenStream.runOnce(spark, p("good"), p("index"),
      p("verdicts"), p("ck_screen"), Schema)
  }

  def pass(spark: SparkSession, ops: Ops, work: Path, k: Int): Unit = {
    val input = in.resolve("day")
    def p(n: String) = work.resolve(n).toString
    val landing = work.resolve("landing")
    Files.createDirectories(landing)
    val base = spark.read.parquet(input.resolve("base.parquet").toString)
    ops.run(spark, "index", "dedup.build") {
      graft.pipeline.DedupIndex.build(spark, base.select("doc_id", "text"), p("index"))
    }
    val files = Files.list(input.resolve("deliveries"))
    val jsonl = try files.toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
      finally files.close()
    jsonl.zipWithIndex.foreach { case (f, d) =>
      // the delivery lands (untimed), then its latency runs until its
      // verdicts are committed and its uniques absorbed
      Files.copy(f, landing.resolve(f.getFileName))
      val (id, done) = ops.run(spark, f"delivery.${d + 1}%02d", "delivery") {
        ops.tr.span(spark, "ingest") {
          graft.streaming.JsonlIngestStream.runOnce(spark, landing.toString, p("good"),
            p("quarantine"), p("ck_ingest"), Schema)
        }
        ops.tr.span(spark, "dedup.screen") {
          graft.streaming.DedupScreenStream.runOnce(spark, p("good"), p("index"),
            p("verdicts"), p("ck_screen"), Schema)
        }
      }
      if (done.isDefined) {
        val run = s"b$d"
        val good = spark.read.parquet(p(s"good/run=$run")).select("doc_id").collect()
          .map(_.getLong(0)).toSet
        val bad = graft.sources.JsonlIngest.quarantined(spark, p("quarantine"))
          .filter(col("run") === run).count()
        val verdicts = spark.read.parquet(p("verdicts"))
          .filter(col("doc_id").isin(good.toSeq: _*))
          .select("doc_id", "verdict").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val dups = verdicts.count(_._2 != "unique")
        ops.tr.note("good_rows", good.size)
        ops.tr.note("lines", (good.size + bad).toDouble)
        ops.tr.note("screened", verdicts.size)
        ops.tr.note("dups", dups)
        val t = deliveries(d)
        val nGood = t("n_docs").asInstanceOf[BigInt].toLong
        val nBad = t("n_bad").asInstanceOf[BigInt].toLong
        val exact = t("exact_in_base").asInstanceOf[List[BigInt]].map(_.toLong)
        ops.check(id, good.size == nGood && bad == nBad,
          s"delivery $d: ${good.size} good / $bad quarantined, want $nGood / $nBad")
        ops.check(id, verdicts.size == nGood,
          s"delivery $d: ${verdicts.size} verdicts for $nGood docs")
        val wrong = exact.filterNot(x => verdicts.get(x).contains("exact"))
        ops.check(id, wrong.isEmpty,
          s"delivery $d: planted exact copies not 'exact': ${wrong.take(5)}")
      }
    }
    val corpus = p("corpus")
    val (expId, splits) = ops.run(spark, "export", "export") {
      ops.tr.span(spark, "export.land") {
        val landed = graft.streaming.JsonlIngestStream.goodRows(spark, p("good"), Schema)
          .drop("run").unionByName(base)
        landed.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      }
      graft.pipeline.CurationExport.run(spark, corpus, p("export")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    splits.foreach { s =>
      val funnel = graft.pipeline.CurationExport.funnel(spark, corpus)
        .agg(sum(col("n_kept")), sum(col("n_raw"))).head()
      val kept = s.values.sum
      ops.check(expId, kept == funnel.getLong(0),
        s"export wrote $kept docs, funnel n_kept ${funnel.getLong(0)}")
      ops.tr.note("kept", kept.toDouble)
      ops.tr.note("landed", funnel.getLong(1).toDouble)
      ops.tr.note("index_bytes", Workloads.dirBytes(work.resolve("index")).toDouble)
    }
  }
}
