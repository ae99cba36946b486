package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed op's outcome. Times are epoch ms (see [[Clock]]). */
final case class Result(id: Long, op: Op, start: Double, end: Double,
    buildMs: Double, error: Option[String], commits: Long = 0, bytesAdded: Long = 0, matched: Long = 0) {
  def wallMs: Double = end - start
}

/** The benchmark JVM: one session on local[cpus], one client thread, a
  * closed loop over the workload's seeded ops. Writes its result as JSON to
  * `--out`; with `--trace 1` also writes every span to `--spans`.
  *
  *   Main --workload kv_scan --seed 1 --seconds 20 --trace 0
  *        --root <scratch dir> --out result.json [--spans spans.json]
  *        [--expected sql_analytics.tsv] [--derive out.tsv]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val root = Paths.get(args("root")).toAbsolutePath
    args.get("expected").foreach(sys.props("graftbench.expected") = _)
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = Clock.nowMs
    val spark = session(cpus, root.resolve("warehouse"))
    val sessionMs = Clock.nowMs - t0

    val tracer = new Tracer(spark)
    var currentOp = -1L
    var tracing = false
    def ddl(sql: String): DataFrame =
      if (tracing) tracer.span(currentOp, "ddl.execute")(graft.ops.Ddl.execute(spark, sql))
      else graft.ops.Ddl.execute(spark, sql)
    val ctx = new Ctx(spark, root.resolve("data"), ddl)
    val w = Workloads(workload, seed)

    // one-off modes that maintain the expected sql_analytics checksums
    args.get("datagen").foreach { dir =>
      val sa = w.asInstanceOf[SqlAnalytics]
      DataGen.write(spark, sa.DataSeed, sa.Scale, dir)
    }
    args.get("derive").foreach(out =>
      derive(ctx, w.asInstanceOf[SqlAnalytics], Paths.get(out)))
    if (args.contains("datagen") || args.contains("derive")) { spark.stop(); return }

    // set-up: inputs, the workload's tables, then warm-up ops
    val g0 = Clock.nowMs
    w.generate(ctx)
    val b0 = Clock.nowMs
    w.build(ctx)
    val w0 = Clock.nowMs
    val warm = w.warmup().map(runOp(spark, tracer, _, traced = false)).toList
    val setupEnd = Clock.nowMs
    val (generateMs, buildMs, warmupMs) = (b0 - g0, w0 - b0, setupEnd - w0)
    val setupS = (setupEnd - t0) / 1000.0
    System.err.println(f"[graftbench] session $sessionMs%.0f ms, generate $generateMs%.0f ms, " +
      f"build $buildMs%.0f ms, warm-up $warmupMs%.0f ms")

    // the measured loop, whole rounds only; a traced run runs the same
    // rounds with every listener on
    val results = mutable.ArrayBuffer[Result]()
    if (trace) {
      tracer.start()
      tracing = true
    }
    val gc0 = gcTotals()
    val cpu0 = processCpuMs()
    val loop0 = Clock.nowMs
    // graft_kv tables under the run's root and the keyed-table catalog,
    // looked at before and after every traced op
    val catalog = Paths.get(sys.env.getOrElse("GRAFT_CATALOG_PATH",
      "spark-warehouse/graft_catalog.json")).toAbsolutePath
    def probe() = KvProbe.snapshot(root, catalog)
    while (Clock.nowMs - loop0 < seconds * 1000 || !w.atBoundary) {
      val op = w.next()
      val before = if (tracing) probe() else null
      val id = tracer.newId()
      currentOp = id
      val r = runOp(spark, tracer, op, tracing, id)
      results += (if (!tracing) r else {
        val after = probe()
        r.copy(commits = KvProbe.commits(before, after),
          bytesAdded = after.bytes - before.bytes, matched = matchedRows(spark, op))
      })
    }
    val loopEnd = Clock.nowMs
    System.err.println(f"[graftbench] loop ${loopEnd - loop0}%.0f ms, ${results.size} ops")
    val gc1 = gcTotals()
    val cpu1 = processCpuMs()
    tracer.stop()

    val finalErrors = try w.finalCheck(ctx) catch {
      case e: Throwable => Seq(s"final check threw: ${oneLine(e)}")
    }
    val all = warm ++ results
    val failures = all.flatMap(r => r.error.map(e => s"${r.op.kind} ${r.op.label}: $e")) ++
      finalErrors
    val liveRows = w.liveRows(ctx)
    val storageBytes = w.storageDirs.map(Workloads.bytesUnder).sum

    // heap still in use after a forced collection, once the benchmark's own
    // reference data is gone
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val timed = results.toSeq
    val walls = timed.map(_.wallMs)
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(walls), "ms"),
      "ops_per_s" -> (timed.size / (walls.sum / 1000.0), "1/s"),
      "heap_after_gc_mb" -> (heapMb, "MiB"))

    val byKind = timed.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      s"${k}_p50_ms" -> (Stats.median(rs.map(_.wallMs)), "ms")
    }
    val writes = timed.filter(_.op.writes.nonEmpty)
    val report = byKind ++ Seq(
      "ops" -> (timed.size.toDouble, "count"),
      "op_p75_ms" -> (Stats.percentile(walls, 75), "ms"),
      "op_p75_beyond" -> (Stats.samplesBeyond(walls, 75).toDouble, "count"),
      "failed_ratio" -> (Stats.failedRatio(all.size + finalErrors.size,
        failures.size), "ratio"),
      "bytes_per_row" -> ((if (liveRows > 0) storageBytes.toDouble / liveRows else 0.0), "B"),
      "write_rows_per_s" -> ((if (writes.isEmpty) 0.0
        else writes.map(_.op.rowsWritten).sum / (writes.map(_.wallMs).sum / 1000.0)), "rows/s"))

    var shares: Seq[(String, (Double, String))] = Nil
    val layers: Seq[(String, (Double, String))] = if (!trace) Nil else {
      val roots = timed.map(r => Span(r.id, -1L, s"op.${r.op.kind}", r.start, r.end))
      val linked = tracer.link(roots)
      val allSpans = roots ++ tracer.spans.asScala.toSeq ++ linked.spans
      writeSpans(Paths.get(args("spans")), allSpans, timed)
      shares = Layers.jobShare(timed, allSpans)
      Layers.compute(timed, tracer, linked, allSpans, Layers.Env(
        sessionMs = sessionMs, warmupMs = warmupMs, generateMs = generateMs,
        buildMs = buildMs, liveRows = liveRows, storageBytes = storageBytes,
        kvDirs = KvProbe.manifestDirs(root).map(_.toString),
        gcMs = gc1._1 - gc0._1, gcCount = gc1._2 - gc0._2,
        cpuUtil = (cpu1 - cpu0) / ((loopEnd - loop0) * cpus)))
    }

    failures.take(20).foreach(f => System.err.println(s"[graftbench] FAILED $f"))
    val stamp = Seq(
      "nproc" -> cpus.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "workload" -> workload, "seed" -> seed.toString)
    val json = Json.obj(Seq(
      "attempted" -> Json.num(all.size + finalErrors.size),
      "failed" -> Json.num(failures.size),
      "failures" -> Json.arr(failures.take(50).map(Json.str)),
      "stamp" -> Json.obj(stamp.map { case (k, v) => k -> Json.str(v) }),
      "end_to_end" -> Json.metrics(endToEnd),
      "report" -> Json.metrics(report ++ shares),
      "per_layer" -> Json.metrics(layers)))
    Files.writeString(Paths.get(args("out")), json)
    spark.stop()
  }

  /** graft's session, configured as its Verify and Bench mains do. */
  def session(cpus: Int, warehouse: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def oneLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)

  def runOp(spark: SparkSession, tracer: Tracer, op: Op, traced: Boolean,
      id: Long = -1L): Result = {
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.GroupPrefix + id, op.kind, interruptOnCancel = false)
    val start = Clock.nowMs
    var built = start
    val outcome: Either[String, Any] = try {
      val df = if (traced) tracer.span(id, "ops.build")(op.build()) else op.build()
      built = Clock.nowMs
      // the action runs a new QueryExecution; only the built one parsed SQL
      if (traced) df.queryExecution.tracker.phases.get("parsing").foreach { p =>
        tracer.spans.add(Span(tracer.newId(), id, "plans.parsing",
          p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      Right(if (traced) tracer.span(id, "action")(op.action(df)) else op.action(df))
    } catch { case e: Throwable => Left(s"threw ${oneLine(e)}") }
    finally sc.clearJobGroup()
    val end = Clock.nowMs
    val error = outcome match {
      case Left(e) => Some(e)
      case Right(out) =>
        try op.check(out) catch { case e: Throwable => Some(s"check threw ${oneLine(e)}") }
    }
    Result(id, op, start, end, built - start, error)
  }

  private def matchedRows(spark: SparkSession, op: Op): Long =
    if (op.kind == "point" || op.kind == "range" || op.kind == "full") {
      val where = op.label.indexOf(" WHERE ")
      val pred = if (where < 0) "" else op.label.substring(where).split(" GROUP BY ")(0)
      spark.sql(s"SELECT count(*) FROM kv_scan_ref$pred").head().getLong(0)
    } else 0L

  private def gcTotals(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.toDouble).sum, beans.map(_.getCollectionCount).sum)
  }
  private def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
      case _ => 0.0
    }

  private def writeSpans(p: Path, spans: Seq[Span], ops: Seq[Result]): Unit = {
    val labels = ops.map(r => r.id -> r.op.label).toMap
    val items = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start),
        "end_ms" -> Json.num(s.end)) ++
        labels.get(s.id).map(l => "label" -> Json.str(l)).toSeq ++
        (if (s.attrs.isEmpty) Nil
         else Seq("attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1)
           .map { case (k, v) => k -> Json.num(v) }))))
    }
    Files.writeString(p, Json.arr(items))
  }

  /** Writes the expected checksums and costs of every sql_analytics
    * statement: each runs twice, and a statement whose two checksums differ
    * is reported, since its result is not a function of its input. */
  private def derive(ctx: Ctx, w: SqlAnalytics, out: Path): Unit = {
    w.build(ctx)
    val lines = w.pool.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to 3).map { _ =>
        val t0 = Clock.nowMs
        val cs = Checksum.of(fn(ctx.spark, ctx.root.resolve("star").toString))
        (Clock.nowMs - t0, cs.hex)
      }
      if (runs.map(_._2).distinct.size != 1)
        System.err.println(s"[graftbench] NONDETERMINISTIC $name: ${runs.map(_._2)}")
      System.err.println(f"[graftbench] $name%-32s ${runs.last._1}%8.1f ms ${runs.last._2}")
      f"$name\t${Stats.median(runs.drop(1).map(_._1))}%.1f\t${runs.last._2}"
    }
    Files.write(out, lines.asJava)
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def metrics(ms: Seq[(String, (Double, String))]): String =
    obj(ms.map { case (k, (v, u)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
