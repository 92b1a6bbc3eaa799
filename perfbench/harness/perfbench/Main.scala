package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.parity.FarmPipeline
import graft.sources.BlockSource

/** JVM side of the benchmark: one workload, one process, one closed-loop
  * client running one query or pipeline pass at a time.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which
  * generates the inputs, launches this class and checks the results).
  * Writes `result.json` (and `spans.jsonl` when traced) into `out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      s.take(i) -> s.drop(i + 1)
    }.toMap
    a("mode") match {
      case "gen" => generate(a("data"), a("sf").toDouble, a("cpus"))
      case "index" =>
        val spark = BenchSession(a("cpus").toInt)
        Indexes.install(spark, a("data"))
        spark.stop()
      case _ => new Run(a).go()
    }
  }

  /** Writes the suites' tables into `dir` with the session
    * `graft.SyntheticGen` uses for the same job. */
  private def generate(dir: String, sf: Double, cpus: String): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TableGen.generate(spark, dir, sf)
    spark.stop()
  }
}

/** The session exactly as `graft.Bench` builds it. */
object BenchSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** The four persisted index families the `ext` queries read. */
object Indexes {
  /** Installs each family under `SPARK_GRAFT_INDEX_DIR` (a fresh build
    * when none is there yet); returns each family's seconds. */
  def install(spark: SparkSession, data: String): Seq[(String, Double)] =
    Seq[(String, () => Long)](
      "graph" -> (() => graft.ext.GraphIndex.copurchase(spark, data).count()),
      "dedup" -> (() => graft.ext.DedupIndex.signatures(spark, data).count()),
      "text" -> (() => graft.ext.TextIndex.tokens(spark, data).count()),
      "mm" -> (() => graft.ext.MmIndex.features(spark, data).count()))
      .map { case (n, f) =>
        val t0 = System.nanoTime()
        f()
        n -> (System.nanoTime() - t0) / 1e9
      }
}

/** Registry modules the per-module metrics are named after. A query
  * belongs to the module whose `all*` list holds it; the lists are
  * found by reflection so the attribution does not depend on how a
  * module splits its registry. */
object Modules {
  val names: Seq[String] = Seq(
    "core.Relational", "core.Advanced", "core.TpchFinal", "core.Lifecycle",
    "ext.EventsOps", "ext.LakeOps", "ext.TextAnalysis", "ext.Dedup",
    "ext.Similarity", "ext.GraphOps", "ext.Multimodal", "ext.PipelineOps",
    "parity.ParityQueries")

  lazy val of: Map[String, String] = names.flatMap { m =>
    val cls = Class.forName(s"graft.$m$$")
    val obj = cls.getField("MODULE$").get(null)
    cls.getMethods.toSeq
      .filter(f => f.getName.startsWith("all") && f.getParameterCount == 0 &&
        classOf[Seq[_]].isAssignableFrom(f.getReturnType))
      .flatMap(f => f.invoke(obj).asInstanceOf[Seq[Any]]
        .collect { case q: graft.Q => q.name -> m })
  }.toMap
}

final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val cpus = a("cpus").toInt
  private val out = a("out")
  private val launchMs = a("launch_ms").toLong
  private val data = a.getOrElse("data", "")
  private val input = a.getOrElse("input", "")
  private val queries = a.get("queries").map(_.split(",").toSeq).getOrElse(Nil)
  private val indexDir = sys.env("SPARK_GRAFT_INDEX_DIR")
  private val isSuite = workload == "query_suite"

  /** Passes keep getting faster for tens of seconds: a suite run that
    * got three timed passes read 10–15% slower than one that got four, and
    * a farm run's fifth pass ~20% slower than its seventh. A floor on the
    * pass count keeps a slow host from also being a less warmed-up one. */
  private val MinPasses = if (isSuite) 4 else 8
  private val spans = new Spans
  private var counters: Counters = _
  private var attached = false
  private var spark: SparkSession = _
  private val metrics = mutable.LinkedHashMap[String, Double]()
  private val extra = mutable.LinkedHashMap[String, String]()

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Linear-interpolation quantile, as Python's statistics module. */
  private def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  private def tag(t: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(Counters.TagKey, t)

  private def attach(on: Boolean): Unit = if (on != attached) {
    if (on) spark.sparkContext.addSparkListener(counters)
    else spark.sparkContext.removeSparkListener(counters)
    attached = on
  }

  /** Counters of every job finished so far, by tag (traced runs only). */
  private def takeCounters(): Map[String, Stats] =
    if (counters == null) Map.empty
    else { PerfbenchBus.drain(spark.sparkContext); counters.take() }

  private def sumStats(st: Map[String, Stats], p: String => Boolean): Stats =
    st.collect { case (k, v) if p(k) => v }.foldLeft(new Stats)(_ add _)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else Seq(f)

  /** System CPU seconds of this process so far (Linux). */
  private def sysCpu: Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.UTF_8)
    stat.substring(stat.lastIndexOf(')') + 2).split(" ")(12).toDouble / 100.0
  }

  /** Peak resident set size since the last reset, in MB (Linux; where
    * the reset is refused the peak covers the whole process). */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case _: java.io.IOException => () }
  private def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Heap still in use after full collections, in MB: what the program
    * keeps between passes (caches, pinned frames). Taken after the check
    * pass, so every run has done the same work when it is read (Spark's
    * status store grows with every job run), and before the timed passes,
    * so the collections take none of their time. */
  private def liveHeapMb: Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1e6 }
    // Unpersisted blocks and broadcasts are released asynchronously, so
    // collect until three readings in a row agree (at most ~3 s).
    val readings = mutable.ArrayBuffer(used)
    while (readings.size < 15 && (readings.size < 3 ||
        readings.takeRight(3).max - readings.takeRight(3).min > 0.5)) {
      Thread.sleep(200)
      readings += used
    }
    readings.last
  }

  // ---- inputs ---------------------------------------------------------

  private def blocks(): DataFrame =
    BlockSource.readJsonDumps(spark, s"$input/dumps")

  // ---- set-up ---------------------------------------------------------

  /** Session and `Bench`'s untimed warm-up query (over this workload's
    * own input), timed from process launch. The query suite also installs
    * the four persisted index families (a fresh build when the index
    * directory is empty). */
  private def setUp(): (Double, Map[String, Double]) = {
    spark = BenchSession(cpus)
    if (traced) {
      counters = new Counters
      attach(true)
    }
    tag("warmup")
    val (df, key) =
      if (isSuite) (spark.read.parquet(s"$data/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")), "l_orderkey")
      else (blocks().select(col("doc"), col("seq")), "doc")
    noop(df.groupBy(col(key)).count().join(broadcast(df.limit(10)), key))
    val index = if (isSuite) installIndexes() else Map.empty[String, Double]
    tag(null)
    val sec = (System.currentTimeMillis() - launchMs) / 1e3
    val jobs = takeCounters().get("index").map(_.jobs.toDouble)
    (sec, index ++ jobs.map("jobs" -> _))
  }

  private def installIndexes(): Map[String, Double] = {
    tag("index")
    Indexes.install(spark, data).toMap +
      ("mb" -> files(new File(indexDir)).map(_.length).sum / 1e6)
  }

  // ---- query suites ---------------------------------------------------

  private lazy val registry: Map[String, graft.Q] =
    graft.SparkEntry.registry.map(q => q.name -> q).toMap

  private final case class QTime(name: String, build: Double, total: Double,
                                 ok: Boolean)

  /** One pass over the suite, each query built then fully materialized
    * through the noop sink, with `Bench`'s per-query cleanup. */
  private def suitePass(passSpan: Int): Seq[QTime] =
    queries.zipWithIndex.map { case (name, i) =>
      val ((build, ok), total) = spans(s"query:$name", passSpan) { qid =>
        try {
          tag(s"build|$name")
          val (df, b) = spans("build", qid)(_ => registry(name).run(spark, data))
          tag(s"action|$name")
          spans("action", qid)(_ => noop(df))
          (b, true)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name FAILED: $e")
            (0.0, false)
        } finally tag(null)
      }
      cleanup(i)
      QTime(name, build, total, ok)
    }

  /** `Bench`'s per-query cleanup: drop what the query pinned; a full GC
    * every 16th query. */
  private def cleanup(i: Int): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    if ((i + 1) % 16 == 0) System.gc()
  }

  /** Constructs every `graft.Tables` reader once. */
  private def readTables(): Double = {
    val readers = Seq[(SparkSession, String) => DataFrame](
      graft.Tables.region, graft.Tables.nation, graft.Tables.customer,
      graft.Tables.supplier, graft.Tables.part, graft.Tables.orders,
      graft.Tables.lineitem, graft.Tables.events, graft.Tables.documents,
      graft.Tables.embeddings)
    tag("tables")
    val t0 = now
    readers.foreach(_(spark, data))
    val s = secs(t0)
    tag(null)
    s
  }

  // ---- farm pipeline --------------------------------------------------

  private def csvOut(pass: Int) = s"$out/csv/pass-$pass"

  /** One pass of the whole pipeline: dumps → records → one CSV per
    * document. */
  private def farmPass(pass: Int): Unit =
    FarmPipeline.writeCsv(FarmPipeline.toCsvFormat(
      FarmPipeline.assembleRecords(FarmPipeline.linesFromBlocks(blocks()))),
      csvOut(pass))

  /** The traced farm pass materializes the cumulative prefixes
    * scan → lines → fold → project → sink; a stage's self time is the
    * difference between successive prefixes. Returns prefix seconds,
    * system-CPU seconds and counters by prefix. */
  private def farmTracedPass(pass: Int, passSpan: Int)
      : (Map[String, Double], Map[String, Double], Map[String, Stats]) = {
    def lines = FarmPipeline.linesFromBlocks(blocks())
    def records = FarmPipeline.assembleRecords(lines)
    val prefixes = Seq[(String, () => Unit)](
      "scan" -> (() => noop(blocks())),
      "lines" -> (() => noop(lines)),
      "fold" -> (() => noop(records.toDF())),
      "project" -> (() => noop(FarmPipeline.toCsvFormat(records))),
      "action" -> (() => farmPass(pass)))
    val timed = prefixes.map { case (n, f) =>
      tag(n)
      val s0 = sysCpu
      val (_, s) = spans(s"prefix:$n", passSpan)(_ => f())
      tag(null)
      (n, s, sysCpu - s0)
    }
    (timed.map(t => t._1 -> t._2).toMap, timed.map(t => t._1 -> t._3).toMap,
      takeCounters())
  }

  // ---- output checks (outside the timed region) -----------------------

  /** Canonical, order-insensitive digest of a result: column names in
    * sorted order, row count, and the sum of a 64-bit hash of each row's
    * values rendered as strings (so the digest does not depend on row
    * order, partitioning or integer widths). */
  private def digest(df: DataFrame): String = {
    val names = df.columns.toSeq
    val byName = names.zipWithIndex.sortBy(_._1).map(_._2)
    val cols = df.toDF(names.indices.map(i => s"c$i"): _*)
    val h = xxhash64(byName.map(i =>
      coalesce(col(s"c$i").cast("string"), lit("\u0000null"))): _*)
    val r = cols.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${byName.map(names).mkString(",")}|${r.getLong(0)}|$total"
  }

  private def checkSuite(): Unit = {
    tag("check")
    val digests = queries.zipWithIndex.map { case (name, i) =>
      val d = try digest(registry(name).run(spark, data))
      catch { case e: Throwable => s"error: $e" }
      cleanup(i)
      name -> d
    }
    // Self-check: the digest must not depend on row order.
    val orderFree = try {
      val first = registry(queries.head).run(spark, data)
      digests.head._2 == digest(first.repartition(7).sortWithinPartitions(
        first.columns.reverse.map(c => desc(s"`$c`")): _*))
    } catch { case _: Exception => false }
    tag(null)
    extra("digests") = digests.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    extra("digest_order_free") = orderFree.toString
  }

  /** The farm output is checked by `run.py` from the files of the last
    * pass; this pass writes the same files once, untimed. */
  private def checkFarm(): Unit = {
    tag("check")
    farmPass(0)
    tag(null)
  }

  // ---- the run --------------------------------------------------------

  def go(): Unit = {
    val (setupS, index) = setUp()
    metrics("setup_s") = setupS

    // The first pass checks the outputs. It also absorbs JIT and codegen
    // warm-up, so it is not timed: the timed passes follow it until the
    // time is up, and at least `MinPasses` of them. A traced run
    // interleaves untraced and traced passes as U T T U U T T U …
    // (listener detached, no tags, no spans in the untraced ones), so the
    // tracing overhead is measured in the same process without favouring
    // the later, warmer passes.
    if (isSuite) checkSuite() else checkFarm()
    if (!traced) metrics("heap_live_mb") = liveHeapMb
    val plain = mutable.ArrayBuffer[Double]()
    val tracedPass = mutable.ArrayBuffer[Double]()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val failedQueries = mutable.LinkedHashSet[String]()
    val layer = mutable.ArrayBuffer[Map[String, Double]]()
    val deadline = now + (seconds * 1e9).toLong
    resetPeakRss()
    var pass = 1
    while (pass <= MinPasses || now < deadline) {
      val isTraced = traced && pass % 4 >= 2
      if (traced) attach(isTraced)
      spans.recording = isTraced
      if (isSuite) {
        val ((q, tablesS), _) = spans(s"pass:$pass", -1) { ps =>
          val tablesS = if (isTraced) readTables() else 0.0
          (suitePass(ps), tablesS)
        }
        val passS = q.map(_.total).sum
        if (isTraced) layer += suiteLayer(q, passS, tablesS, takeCounters())
        q.foreach { x =>
          if (!x.ok) failedQueries += x.name
          if (!isTraced)
            perQuery.getOrElseUpdate(x.name, mutable.ArrayBuffer[Double]()) += x.total
        }
        (if (isTraced) tracedPass else plain) += passS
      } else if (isTraced) {
        val ((times, sys, st), _) =
          spans(s"pass:$pass", -1)(ps => farmTracedPass(pass, ps))
        layer += farmLayer(times, sys, st, pass)
        tracedPass += times("action")
      } else {
        val t = now
        farmPass(pass)
        plain += secs(t)
      }
      rm(new File(csvOut(pass - 1)))
      pass += 1
    }
    spans.recording = false
    metrics("rss_peak_mb") = peakRssMb
    // Each pass runs faster than the one before it for tens of seconds
    // (C2 keeps compiling the planner and the executor) and the host has
    // short stalls, so, as in `Bench`, a query's time is its best over
    // the timed passes. A farm pass is one pipeline query.
    val latencies =
      if (isSuite) perQuery.values.map(_.min).toSeq else Seq(plain.min)
    metrics("pass_s") = latencies.sum
    metrics("query_p50_s") = median(latencies)
    metrics("query.p90_s") = quantile(latencies, 0.9)
    metrics("query.samples") = latencies.size
    extra("passes") = plain.size.toString
    extra("pass_samples") = plain.map(Json.num).mkString("[", ",", "]")
    extra("failed_queries") = failedQueries.map(Json.str).mkString("[", ",", "]")
    extra("query_samples") = perQuery.map { case (k, v) =>
      s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")

    if (traced) {
      val keys = layer.flatMap(_.keys).distinct
      keys.foreach(k => metrics(k) = median(layer.map(_.getOrElse(k, 0.0)).toSeq))
      metrics("trace.overhead_frac") =
        median(tracedPass.toSeq) / median(plain.toSeq) - 1.0
      if (isSuite) {
        Seq("graph", "dedup", "text", "mm").foreach(k =>
          metrics(s"index.${k}_s") = index(k))
        metrics("index.mb") = index("mb")
        metrics("index.jobs") = index.getOrElse("jobs", 0.0)
      }
    }

    val body = (metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("\"metrics\":{", ",", "}") +: extra.map { case (k, v) =>
      s"${Json.str(k)}:$v" }.toSeq).mkString("{", ",", "}")
    Files.write(Paths.get(out, "result.json"), body.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(out, "spans.jsonl"),
      spans.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer metrics of one traced suite pass. */
  private def suiteLayer(q: Seq[QTime], passS: Double, tablesS: Double,
                         st: Map[String, Stats]): Map[String, Double] = {
    val build = sumStats(st, _.startsWith("build|"))
    val buildS = q.map(_.build).sum
    val perModule = Modules.names.flatMap { m =>
      val mine = q.filter(x => Modules.of.get(x.name).contains(m))
      Seq(s"$m.s" -> mine.map(_.total).sum,
        s"$m.build_jobs" -> mine.map(x =>
          st.get(s"build|${x.name}").map(_.jobs).getOrElse(0L)).sum.toDouble)
    }
    val actionS = q.map(x => x.total - x.build).sum
    Map(
      "tables.read_s" -> tablesS,
      "tables.read_jobs" -> st.get("tables").map(_.jobs.toDouble).getOrElse(0.0),
      "build.s" -> buildS,
      "build.jobs" -> build.jobs.toDouble,
      "build.share" -> buildS / passS) ++ perModule ++
      execLayer(sumStats(st, _.startsWith("action|")), actionS)
  }

  /** Per-layer metrics of one traced farm pass. */
  private def farmLayer(t: Map[String, Double], sys: Map[String, Double],
                        st: Map[String, Stats], pass: Int): Map[String, Double] = {
    val mb = 1e6
    val sink = files(new File(csvOut(pass))).filter(_.getName.endsWith(".csv"))
    def shuffleMb(prefix: String) =
      st.get(prefix).map(_.shuffleWriteBytes / mb).getOrElse(0.0)
    Map(
      "sources.scan_s" -> t("scan"),
      "sources.files" -> files(new File(s"$input/dumps")).size.toDouble,
      "sources.input_mb" -> st.get("scan").map(_.inputBytes / mb).getOrElse(0.0),
      "parity.lines_s" -> (t("lines") - t("scan")),
      "parity.fold_s" -> (t("fold") - t("lines")),
      "parity.fold_shuffle_mb" -> shuffleMb("fold"),
      "parity.project_s" -> (t("project") - t("fold")),
      "sink.s" -> (t("action") - t("project")),
      "sink.files" -> sink.size.toDouble,
      "sink.mb" -> sink.map(_.length).sum / mb,
      "sink.sys_cpu_s" -> (sys("action") - sys("project"))) ++
      execLayer(st.getOrElse("action", new Stats), t("action"))
  }

  private def execLayer(s: Stats, wall: Double): Map[String, Double] = {
    val mb = 1e6
    Map(
      "exec.s" -> wall,
      "exec.jobs" -> s.jobs.toDouble,
      "exec.stages" -> s.stages.toDouble,
      "exec.tasks" -> s.tasks.toDouble,
      "exec.cpu_s" -> s.cpuNs / 1e9,
      "exec.run_s" -> s.runMs / 1e3,
      "exec.gc_s" -> s.gcMs / 1e3,
      "exec.core_busy_frac" -> (if (wall > 0) s.runMs / 1e3 / (wall * cpus) else 0.0),
      "exec.input_mb" -> s.inputBytes / mb,
      "exec.shuffle_write_mb" -> s.shuffleWriteBytes / mb,
      "exec.shuffle_read_mb" -> s.shuffleReadBytes / mb,
      "exec.spill_mb" -> s.spillBytes / mb,
      "exec.task_failures" -> s.taskFailures.toDouble)
  }
}
