package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named by graft's modules. Times per
  * op are medians over the traced ops; counts per op are means. */
object Layers {
  /** `kvDirs`: every graft_kv table dir under the run's root at run end. */
  final case class Env(sessionMs: Double, warmupMs: Double, generateMs: Double,
      buildMs: Double, liveRows: Long, storageBytes: Long, kvDirs: Seq[String],
      gcMs: Double, gcCount: Long, cpuUtil: Double)

  /** Op types across the workloads, each with its own latency metric. */
  val Kinds = Seq("query", "point", "range", "full", "append", "dml", "readback", "optimize")

  /** Median share of an op's wall spent inside Spark jobs, per op type. */
  def jobShare(ops: Seq[Result], spans: Seq[Span]): Seq[(String, (Double, String))] = {
    val jobs = spans.filter(_.name == "spark.job").groupBy(_.parent)
    ops.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      s"${k}_job_share" -> (med(rs.map { r =>
        Stats.unionLength(jobs.getOrElse(r.id, Nil).map(s =>
          (s.start.toLong, s.end.toLong))) / math.max(r.wallMs, 1e-9)
      }), "ratio")
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def rate(n: Int, ms: Double): Double = if (ms <= 0) 0.0 else n / (ms / 1000.0)

  def compute(ops: Seq[Result], tracer: Tracer, linked: Tracer.Linked,
      spans: Seq[Span], env: Env): Seq[(String, (Double, String))] = {
    val byParent = spans.groupBy(_.parent)
    def children(id: Long, name: String): Seq[Span] =
      byParent.getOrElse(id, Nil).filter(_.name == name)
    def childMs(id: Long, name: String): Double = children(id, name).map(_.ms).sum
    def jobIntervals(r: Result): Seq[(Long, Long)] =
      children(r.id, "spark.job").map(s => (s.start.toLong, s.end.toLong))
    def jobUnion(r: Result): Double = Stats.unionLength(jobIntervals(r)).toDouble
    def selfMs(r: Result): Double =
      Stats.selfTime(r.start.toLong, r.end.toLong, jobIntervals(r)).toDouble
    def sumsOf(r: Result) = linked.tasks.getOrElse(r.id, Tracer.TaskSums())
    val sums = ops.map(sumsOf)
    def perOp(f: Tracer.TaskSums => Double): Double = mean(sums.map(f))
    val jobsPerOp = ops.map(r => children(r.id, "spark.job"))

    // sources: what graft_kv storage did, observed whatever the workload
    def kvScans(r: Result) = linked.kvScans.getOrElse(r.id, 0)
    val writes = ops.filter(_.op.writes.nonEmpty)
    val scanOps = ops.filter(_.matched > 0)
    val inputOfScans = scanOps.map(sumsOf(_).inputRecords).sum
    val files = env.kvDirs.map(graft.sources.GraftKvSink.listedFiles)
    val manifestBytes = env.kvDirs.map { d =>
      val p = java.nio.file.Paths.get(d)
      Workloads.bytesUnder(p.resolve(KvProbe.Manifest)) +
        Workloads.bytesUnder(p.resolve("_graft_manifest_shards"))
    }.sum
    val kvBytes = env.kvDirs.map(d => Workloads.bytesUnder(java.nio.file.Paths.get(d))).sum
    val userBytes = writes.map(_.op.bytesWritten).sum
    val tails = ops.filter(_.commits > 0).flatMap { r =>
      val ends = children(r.id, "spark.job").map(_.end)
      if (ends.isEmpty) None else Some(r.end - ends.max)
    }
    val batches = tracer.batches.asScala.toSeq
    def batchMean(k: String): Double = mean(batches.map(_._2.getOrElse(k, 0.0)))
    val ddlOps = ops.filter(r => children(r.id, "ddl.execute").nonEmpty)

    val kindP50 = Kinds.map { k =>
      s"ops.${k}_p50_ms" -> (med(ops.filter(_.op.kind == k).map(_.wallMs)), "ms")
    }

    kindP50 ++ Seq(
      "ops.count" -> (ops.size.toDouble, "count"),
      "ops.build_ms" -> (med(ops.map(_.buildMs)), "ms"),
      "plans.parse_ms" -> (med(ops.map(r => childMs(r.id, "plans.parsing"))), "ms"),
      "plans.analyze_ms" -> (med(ops.map(r => childMs(r.id, "plans.analysis"))), "ms"),
      "plans.optimize_ms" -> (med(ops.map(r => childMs(r.id, "plans.optimization"))), "ms"),
      "plans.physical_ms" -> (med(ops.map(r => childMs(r.id, "plans.planning"))), "ms"),
      "driver.self_ms" -> (med(ops.map(selfMs)), "ms"),
      "driver.self_share" -> (med(ops.map(r => selfMs(r) / math.max(r.wallMs, 1e-9))), "ratio"),
      "spark.jobs" -> (mean(jobsPerOp.map(_.size.toDouble)), "count"),
      "spark.stages" -> (mean(jobsPerOp.map(_.map(_.attrs.getOrElse("stages", 0.0)).sum)), "count"),
      "spark.tasks" -> (perOp(_.tasks.toDouble), "count"),
      "spark.job_ms" -> (med(ops.map(jobUnion)), "ms"),
      "spark.task_run_ms" -> (perOp(_.runMs), "ms"),
      "spark.task_cpu_ms" -> (perOp(_.cpuMs), "ms"),
      "spark.task_gc_ms" -> (perOp(_.gcMs), "ms"),
      "spark.busy_cores" -> {
        val u = ops.map(jobUnion).sum
        ((if (u <= 0) 0.0 else sums.map(_.runMs).sum / u), "cores")
      },
      "spark.shuffle_read_bytes" -> (perOp(_.shuffleRead.toDouble), "B"),
      "spark.shuffle_write_bytes" -> (perOp(_.shuffleWrite.toDouble), "B"),
      "spark.shuffle_fetch_wait_ms" -> (perOp(_.fetchWaitMs), "ms"),
      "spark.spill_bytes" -> (perOp(_.spill.toDouble), "B"),
      "spark.input_records" -> (perOp(_.inputRecords.toDouble), "count"),
      "sources.read_amp" -> ((if (scanOps.isEmpty) 0.0
        else inputOfScans.toDouble / scanOps.map(_.matched).sum), "ratio"),
      "sources.kv_scans" -> (mean(ops.map(kvScans(_).toDouble)), "count"),
      "sources.scan_tasks" -> (mean(ops.filter(kvScans(_) > 0).map(sumsOf(_).tasks.toDouble)),
        "count"),
      "sources.data_files" -> (files.map(_._1.size).sum.toDouble, "count"),
      "sources.delta_files" -> (files.map(_._2.size).sum.toDouble, "count"),
      "sources.data_bytes" -> ((kvBytes - manifestBytes).toDouble, "B"),
      "sources.manifest_bytes" -> (manifestBytes.toDouble, "B"),
      "sources.commits" -> (mean(ops.map(_.commits.toDouble)), "count"),
      "sources.writes_without_commit" -> (writes.count(_.commits <= 0).toDouble, "count"),
      "sources.write_amp" -> ((if (userBytes <= 0) 0.0
        else writes.map(_.bytesAdded).sum.toDouble / userBytes), "ratio"),
      "sources.commit_tail_ms" -> (med(tails), "ms"),
      "sources.bytes_per_row" -> ((if (env.liveRows <= 0) 0.0
        else env.storageBytes.toDouble / env.liveRows), "B"),
      "sources.write_rows_per_s" -> ((if (writes.isEmpty) 0.0
        else writes.map(_.op.rowsWritten).sum / (writes.map(_.wallMs).sum / 1000.0)), "rows/s"),
      "ddl.execute_ms" -> (med(ddlOps.map(r => childMs(r.id, "ddl.execute"))), "ms"),
      "streaming.batches" -> (batches.size.toDouble, "count"),
      "streaming.add_batch_ms" -> (batchMean("addBatch"), "ms"),
      "streaming.wal_commit_ms" -> (batchMean("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> (batchMean("commitOffsets"), "ms"),
      "streaming.planning_ms" -> (batchMean("queryPlanning"), "ms"),
      "streaming.state_commit_ms" -> (mean(batches.map(_._3)), "ms"),
      "session.start_ms" -> (env.sessionMs, "ms"),
      "session.generate_ms" -> (env.generateMs, "ms"),
      "session.build_ms" -> (env.buildMs, "ms"),
      "session.warmup_ms" -> (env.warmupMs, "ms"),
      "jvm.gc_ms" -> (env.gcMs, "ms"),
      "jvm.gc_count" -> (env.gcCount.toDouble, "count"),
      "jvm.cpu_util" -> (env.cpuUtil, "ratio"),
      "trace.ops_per_s_traced" -> (rate(ops.size, ops.map(_.wallMs).sum), "1/s"))
  }
}
