package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Harness, Pipeline, SparkEntry, Tables}
import graft.analytics.LogAnalytics
import graft.clf.ClfParser
import graft.ext.Materialize
import graft.sinks.ParquetSink
import graft.stage.Staging

/** One timed operation: its kind, seconds, whether its output check
  * passed, why not, and what the check (here or in run.py) needs. */
final case class Op(kind: String, secs: Double, ok: Boolean, why: String,
                    fields: Map[String, Any])

/**
 * The benchmark's engine side, one process per run:
 *
 *   Main --workload etl_day|query_mix --seed N --seconds S
 *        --trace 0|1 --work DIR --cache DIR --tables DIR --small-tables DIR
 *        --out FILE
 *
 * Sets the workload up, then runs whole rounds of its operations in one
 * closed loop (one client thread) until `--seconds` have passed, and writes
 * every operation with its time and output to `--out` as JSON. `run.py`
 * checks the outputs it can only check outside the engine and turns the
 * record into metrics. With `--trace 1` it also writes per-layer metrics.
 */
object Main {
  val cores = 4
  val table = "tdk_logs"

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val spark = session(work)
    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val run = new Run(spark, tracer, a("seed").toLong, a("seconds").toDouble,
      work, Paths.get(a("cache")).toAbsolutePath)
    a("workload") match {
      case "etl_day"   => run.etlDay()
      case "query_mix" => run.queryMix(Paths.get(a("tables")).toAbsolutePath.toString,
        Paths.get(a("small-tables")).toAbsolutePath.toString)
      case w => sys.error(s"unknown workload $w")
    }
    run.result("job_floor_s") = jobFloor(spark)
    run.result("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(a("out")), Json(run.record).getBytes(UTF_8))
    spark.stop()
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(Harness.parallelismFloors.head._1, Harness.parallelismFloors.head._2)
      .config(Harness.parallelismFloors(1)._1, Harness.parallelismFloors(1)._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Harness.quietRddWarnings()
    s
  }

  /** Ambient probe, not a metric: the fastest of five trivial one-shuffle
    * jobs, as `graft.Bench` measures `job_floor_sec`. */
  def jobFloor(spark: SparkSession): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0, 1000, 1, cores).groupBy(col("id") % 7).count().collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def now(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Op => apply(Map("kind" -> o.kind, "secs" -> o.secs, "ok" -> o.ok,
      "why" -> o.why) ++ o.fields)
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

final class Run(spark: SparkSession, tracer: Option[Tracer], seed: Long,
                seconds: Double, work: Path, cache: Path) {
  import Main._

  val ops = mutable.ArrayBuffer[Op]()
  val result = mutable.LinkedHashMap[String, Any]()
  val layers = mutable.LinkedHashMap[String, Double]()
  private var genS = 0.0
  private var genBeforeFirstOpS = 0.0
  private var firstOpNs = 0L
  private val rnd = new java.util.Random(seed)

  def record: Map[String, Any] = result.toMap ++ Map(
    "ops" -> ops.toSeq, "gen_s" -> genBeforeFirstOpS, "first_op_epoch_ns" -> firstOpNs,
    "layers" -> layers.toMap)

  private def gen(index: Int, lines: Int, malformed: Boolean = true): (Path, DayTruth) = {
    val t0 = System.nanoTime()
    try ClfGen.day(cache, seed, index, lines, malformed)
    finally genS += (System.nanoTime() - t0) / 1e9
  }

  /** Rounds of `round()` until `seconds` have passed since the first one
    * started; a round that has started always finishes. */
  private def loop(round: Int => Unit): Unit = {
    mark("first timed op")
    firstOpNs = now()
    genBeforeFirstOpS = genS
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) { round(i); i += 1 }
    result("rounds") = i
    mark(s"$i rounds done")
  }

  /** Progress line on stderr: seconds since the JVM started. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] +${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s $what")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()

  /** Call `body` as a span when tracing, else just time it. */
  private def call[T](name: String, into: mutable.ArrayBuffer[Span])(body: => T): (T, Double) =
    tracer match {
      case Some(t) => val (out, s) = t.span(name)(body); into += s; (out, s.wallS)
      case None => timed(body)
    }

  private def reset(p: Path): Path = {
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
  }

  /** Stage the history days through the engine's own parser and staging
    * writer in one write, dated by event time (`Staging.withDate`), then
    * register the catalog table. History days carry no malformed lines, so
    * every row has the date of the file it came from. */
  private def stageHistory(root: Path, staging: String): Unit = {
    val hist = reset(root.resolve("history"))
    (0 until histDays).foreach { i =>
      val (f, _) = gen(i, histLines, malformed = false)
      Files.copy(f, hist.resolve(f.getFileName))
    }
    mark("history generated")
    val parsed = ClfParser.parse(ClfParser.read(spark, hist.toString))
    Staging.stage(Staging.withDate(parsed), staging)
    Staging.register(spark, table, staging)
    mark("history staged and registered")
  }

  private def dirBytes(p: Path): (Int, Long) =
    if (!Files.exists(p)) (0, 0L)
    else {
      val fs = Files.list(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (fs.size, fs.map(Files.size).sum)
    }

  /** Every staged file outside `except` with its size and mtime. */
  private def snapshot(staging: Path, except: String): Set[(String, Long, Long)] =
    Files.walk(staging).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains(s"/date=$except/"))
      .map(p => (staging.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toSet

  // ---------------------------------------------------------------- etl_day

  val histDays = 33
  val histLines = 500
  val dayLines = 200000
  val warmLines = 20000

  def etlDay(): Unit = {
    val root = reset(work.resolve("etl"))
    val staging = root.resolve("staging")
    val inbox = root.resolve("inbox"); val archive = root.resolve("archive")
    val results = root.resolve("results")
    val auditRoot = root.resolve("audit")
    stageHistory(root, staging.toString)
    val sink = new ParquetSink(results.toString)
    val pipeSpans = spans
    val sums = mutable.HashMap[String, Double]().withDefaultValue(0.0)

    def ingest(index: Int, lines: Int, record: Boolean): Unit = {
      val (file, truth) = gen(index, lines)
      val d = truth.date
      Files.createDirectories(inbox)
      Files.copy(file, inbox.resolve(file.getFileName))
      val before = snapshot(staging, d)
      val totalsBefore =
        if (Files.exists(results.resolve("total_requests")))
          spark.read.parquet(results.resolve("total_requests").toString).count()
        else 0L
      val (r, secs) = call("pipeline", pipeSpans) {
        Pipeline.run(spark, inbox.toString, staging.toString, d, sink,
          Some(archive.toString), "*.log", Some(table))
      }
      val fails = mutable.ArrayBuffer[String]()
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) fails += s"$what: got $got, want $want"
      expect("report.inputFiles", r.inputFiles.map(f => Paths.get(new java.net.URI(f)).getFileName.toString),
        Seq(file.getFileName.toString))
      expect("report.parsedRows", r.parsedRows, truth.lines)
      expect("report.rejectRows", r.rejectRows, truth.malformed)
      expect("report.userCount", r.userCount, truth.users)
      expect("report.totalSuccessful", r.totalSuccessful, truth.status200)
      val perUser = spark.read.parquet(results.resolve("user_requests").toString)
        .collect().map(x => (if (x.isNullAt(0)) None else Some(x.getLong(0))) -> x.getLong(1)).toMap
      expect("user_requests", perUser == truth.perUser, true)
      val totals = spark.read.parquet(results.resolve("total_requests").toString)
      expect("total_requests rows", totals.count(), totalsBefore + 1)
      expect("total_requests row", totals.filter(col("run_date") === d)
        .select("user_count", "total_successful_requests").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSeq, Seq((truth.users, truth.status200)))
      expect("inbox files", Files.list(inbox).count(), 0L)
      expect("archived", Files.exists(archive.resolve(file.getFileName)), true)
      expect("staged rows", spark.read.parquet(staging.resolve(s"date=$d").toString).count(), truth.lines)
      expect("earlier days unchanged", snapshot(staging, d) == before, true)
      val (files, bytes) = dirBytes(staging.resolve(s"date=$d"))
      if (record) ops += Op("ingest", secs, fails.isEmpty, fails.mkString("; "),
        Map("lines" -> truth.lines, "raw_bytes" -> truth.bytes, "staged_bytes" -> bytes,
          "staged_files" -> files))
      if (tracer.isDefined && record) replay(file, d, truth, staging, root, sums)
    }

    def rejectAudit(i: Int, record: Boolean): Unit = {
      val in = Files.createDirectories(auditRoot.resolve("inbox"))
      Files.write(in.resolve(s"audit-$i.log"), ClfGen.auditLines.mkString("", "\n", "\n").getBytes(UTF_8))
      val (r, secs) = timed(Pipeline.run(spark, in.toString, auditRoot.resolve("staging").toString,
        ClfGen.date(i), new ParquetSink(auditRoot.resolve("results").toString),
        Some(auditRoot.resolve("archive").toString)))
      val want = (8L, ClfGen.auditBadRows, 5L, 5L)
      val got = (r.parsedRows, r.rejectRows, r.userCount, r.totalSuccessful)
      if (record) ops += Op("reject_audit", secs, got == want,
        if (got == want) "" else s"(parsed, rejects, users, successful): got $got, want $want", Map())
    }

    def catalogDay(index: Int, lines: Int, record: Boolean): Unit = {
      val (_, truth) = gen(index, lines)
      val (n, secs) = timed(spark.table(table).filter(col("date") === truth.date).count())
      if (record) ops += Op("catalog_day", secs, n == truth.lines,
        if (n == truth.lines) "" else s"catalog rows for ${truth.date}: got $n, want ${truth.lines}", Map())
    }

    // one round: the next day's ingest, then one of each audit operation
    def round(r: Int, lines: Int, record: Boolean): Unit = {
      val index = histDays + r
      ingest(index, lines, record)
      rejectAudit(index, record)
      catalogDay(index, lines, record)
    }
    // warm-up, untimed, on a smaller day: the first ingest of a JVM runs
    // slower while the JIT compiles
    round(0, warmLines, record = false)
    loop(i => round(1 + i, dayLines, record = true))

    tracer.foreach { _ =>
      val n = ops.count(_.kind == "ingest").toDouble
      def per(k: String) = sums(k) / n
      layers("clf.parse_s") = per("parse_s")
      layers("clf.rejects_s") = per("rejects_s")
      layers("clf.lines_per_core_s") = sums("lines") / sums("parse_task_s")
      layers("stage.write_s") = per("write_s")
      layers("stage.write_tasks") = per("write_tasks")
      layers("stage.write_skew") = per("write_skew")
      layers("stage.files_written") = per("files")
      layers("stage.bytes_written") = per("bytes")
      layers("stage.read_day_build_s") = per("read_day_build_s")
      layers("stage.read_day_build_jobs") = per("read_day_build_jobs")
      layers("stage.scan_bytes_per_op") = per("scan_bytes")
      layers("analytics.per_user_s") = per("per_user_s")
      layers("analytics.totals_s") = per("totals_s")
      layers("analytics.athena_s") = per("athena_s")
      layers("sinks.write_s") = per("sinks_s")
      layers("pipeline.jobs") = pipeSpans.map(_.jobs).sum / pipeSpans.size.toDouble
      layers("pipeline.replay_gap_s") = per("gap_s")
      layers("pipeline.cached_mb") = per("cached_mb")
      sparkLayers(pipeSpans.toSeq)
    }
  }

  /** The phases of `Pipeline.run`, one public call at a time, over day
    * `d`, which the timed run has just ingested: same inputs, same
    * staging root, results into a separate sink. */
  private def replay(file: Path, d: String, truth: DayTruth, staging: Path, root: Path,
                     sums: mutable.Map[String, Double]): Unit = {
    val t = tracer.get
    val in = reset(root.resolve("replay-inbox"))
    Files.copy(file, in.resolve(file.getFileName))
    val raw = ClfParser.read(spark, in.toString).withColumn("_src", input_file_name()).cache()
    raw.count()
    val (_, parse) = t.span("clf.parse")(Harness.consume(ClfParser.parse(raw)))
    val (_, rej) = t.span("clf.rejects")(ClfParser.rejects(raw).count())
    val parsed = ClfParser.parse(raw).withColumn("date", lit(d)).cache()
    parsed.count()
    val (_, write) = t.span("stage.write")(Staging.stage(parsed, staging.toString))
    parsed.unpersist(blocking = true)
    val (files, bytes) = dirBytes(staging.resolve(s"date=$d"))
    val (dayDf, build) = t.span("stage.read_day_build")(Staging.readDay(spark, staging.toString, d))
    val day = dayDf.cache()
    val (_, fill) = t.span("stage.day_scan")(day.count())
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val (_, perUser) = t.span("analytics.per_user")(
      LogAnalytics.requestsPerUser(day).orderBy(col("user_id").asc_nulls_last).collect())
    val totalsDf = LogAnalytics.totalsRow(day, runDate = lit(d), successPred = col("status_code") === 200)
    val (_, totals) = t.span("analytics.totals")(totalsDf.collect())
    val sink = new ParquetSink(root.resolve("replay-results").toString)
    val (_, sinks) = t.span("sinks.write") {
      sink.overwrite(LogAnalytics.requestsPerUser(day).orderBy(col("user_id").asc_nulls_last),
        "user_requests")
      sink.append(totalsDf, "total_requests")
    }
    day.unpersist(blocking = true)
    raw.unpersist(blocking = true)
    // the read side over the registered table: the Athena trio
    val athena = LogAnalytics.athenaSql(table).map(q => t.span("analytics.athena")(spark.sql(q).collect())._2)
    val pipe = ops.last.secs
    val phases = Seq(parse, rej, write, build, perUser, totals, sinks).map(_.wallS).sum
    Seq("parse_s" -> parse.wallS, "parse_task_s" -> parse.taskRunS, "lines" -> truth.lines.toDouble,
      "rejects_s" -> rej.wallS, "write_s" -> write.wallS, "write_tasks" -> write.writerTasks.toDouble,
      "write_skew" -> write.skew, "files" -> files.toDouble, "bytes" -> bytes.toDouble,
      "read_day_build_s" -> build.wallS, "read_day_build_jobs" -> build.jobs.toDouble,
      "scan_bytes" -> (fill +: athena).map(_.inputBytes).sum.toDouble / (1 + athena.size),
      "athena_s" -> athena.map(_.wallS).sum / athena.size, "per_user_s" -> perUser.wallS,
      "totals_s" -> totals.wallS, "sinks_s" -> sinks.wallS, "gap_s" -> (pipe - phases),
      "cached_mb" -> cachedMb).foreach { case (k, v) => sums(k) += v }
  }

  /** One operation's span from the spans of its public calls. */
  private def merge(parts: Seq[Span]): Span = {
    val s = new Span("op")
    parts.foreach { x =>
      s.wallS += x.wallS; s.jobs += x.jobs; s.tasks += x.tasks; s.taskRunS += x.taskRunS
      s.taskCpuS += x.taskCpuS; s.gcS += x.gcS; s.shuffleBytes += x.shuffleBytes
      s.spillBytes += x.spillBytes; s.inputBytes += x.inputBytes
    }
    s
  }

  /** Spark execution per timed operation, over the given spans. */
  private def sparkLayers(ss: Seq[Span]): Unit = {
    val n = ss.size.toDouble
    layers("spark.jobs") = ss.map(_.jobs).sum / n
    layers("spark.tasks") = ss.map(_.tasks).sum / n
    layers("spark.task_run_s") = ss.map(_.taskRunS).sum / n
    layers("spark.task_cpu_s") = ss.map(_.taskCpuS).sum / n
    layers("spark.core_busy") = ss.map(_.taskRunS).sum / (cores * ss.map(_.wallS).sum)
    layers("spark.gc_s") = ss.map(_.gcS).sum / n
    layers("spark.shuffle_bytes") = ss.map(_.shuffleBytes).sum / n
    layers("spark.spill_bytes") = ss.map(_.spillBytes).sum / n
  }

  // -------------------------------------------------------------- query_mix

  /** Sampled queries whose DuckDB oracle takes longer than run.py's
    * budget on the measured tables (q149_ewma's, at sf0.01);
    * their results are also written from the small tables, to be checked
    * there. A fixed list, so that set-up does the same work on every run. */
  val checkedSmall = Set("q149_ewma")

  def queryMix(tablesDir: String, smallDir: String): Unit = {
    val all = SparkEntry.queries
    val sample = all.keys.toSeq.sorted.zipWithIndex.collect { case (k, i) if i % 31 == 0 => k }
    val oracle = SparkEntry.oracleSql
    // partial oracles read other queries' results too: write those as well
    def deps(qs: Seq[String]) = qs.flatMap(q => oracle.get(q).toSeq.flatMap(s =>
      "__OUT__/(q[0-9A-Za-z_]+)/".r.findAllMatchIn(s).map(_.group(1)))).distinct
    val loadSpans = spans
    if (tracer.isDefined)
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach(n => call("tables.load", loadSpans)(Tables(spark, tablesDir, n)))

    // set-up, untimed: one pass over the measured tables, which warms the
    // JIT and code generation and writes each result for run.py's oracle
    // check; the `checkedSmall` queries are also written from the small
    // tables
    def dumpPass(tables: String, name: String, qs: Seq[String]): Unit = {
      val out = reset(work.resolve(name))
      val errors = mutable.LinkedHashMap[String, String]()
      (qs ++ deps(qs).filterNot(qs.contains)).foreach { q =>
        try all(q)(spark, tables).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
        catch { case e: Throwable => errors(q) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        Materialize.release(spark)
        Harness.dropStreamSinks(spark)
      }
      result(name) = Map("dir" -> out.toString, "errors" -> errors.toMap,
        "oracle_sql" -> qs.flatMap(q => oracle.get(q).map(s =>
          q -> s.replace("__OUT__", out.toString.replace("'", "''")))).toMap)
      mark(s"set-up pass $name done")
    }
    dumpPass(tablesDir, "measured", sample)
    dumpPass(smallDir, "small", sample.filter(checkedSmall))
    val buildSpans, consumeSpans, releaseSpans = spans
    loop { pass =>
      scala.util.Random.javaRandomToRandom(rnd).shuffle(sample).foreach { q =>
        var secs = 0.0
        val err = try {
          val (df, b) = call("sparkentry.build", buildSpans)(all(q)(spark, tablesDir))
          secs += b
          secs += call("harness.consume", consumeSpans)(Harness.consume(df))._2
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        finally secs += call("materialize.release", releaseSpans)(Materialize.release(spark))._2
        Harness.dropStreamSinks(spark)
        ops += Op("query", secs, err.isEmpty, err.getOrElse(""), Map("query" -> q, "pass" -> pass))
      }
    }

    tracer.foreach { _ =>
      val passes = result("rounds").asInstanceOf[Int].toDouble
      def perPass(ss: Seq[Span])(f: Span => Double) = ss.map(f).sum / passes
      result("build_job_sites") = buildSpans.flatMap(_.jobSites).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      layers("tables.load_s") = loadSpans.map(_.wallS).sum / loadSpans.size
      layers("tables.jobs_per_pass") = perPass(buildSpans.toSeq)(_.jobsAt("Tables.scala"))
      layers("sparkentry.build_s") = perPass(buildSpans.toSeq)(_.wallS)
      layers("sparkentry.build_jobs") = perPass(buildSpans.toSeq)(_.jobs)
      layers("materialize.jobs_per_pass") =
        perPass((buildSpans ++ consumeSpans).toSeq)(_.jobsAt("Materialize.scala"))
      layers("materialize.release_s") = perPass(releaseSpans.toSeq)(_.wallS)
      layers("harness.consume_s") = perPass(consumeSpans.toSeq)(_.wallS)
      layers("harness.plan_s") = perPass(consumeSpans.toSeq)(_.planS)
      val opSpans = buildSpans.indices.map(i => merge(Seq(buildSpans(i), consumeSpans(i), releaseSpans(i))))
      sparkLayers(opSpans.toSeq)
    }
  }
}
