package perfbench

import graft.io.Skew
import graft.model.Doc
import graft.pipeline.{ExtractJob, TakedownJob}
import perfbench.Workloads.{Call, CommitBatch, TakedownCall}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's per-layer split: one traced call with the listener
  * attached, then probes that run each layer of the call on its own over
  * the same pending partitions. */
object Layered {

  /** Length of the union of `[start, end]` intervals, in seconds. */
  def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    (total + e - s) / 1e6
  }

  /** Value at rank `n - 10` (1-based) of the ascending batch times: the
    * highest percentile with at least ten batches beyond it, or the maximum
    * when there are ten batches or fewer. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length <= 10) s.last else s(s.length - 11)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def files(p: String): Long = {
    val root = Path.of(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  /** Commit batches of a call: each opens at the first job that processes
    * data after the previous batch's lineage append, and closes when its
    * lineage append ends. Returns (start, end, jobs) per batch. */
  def batches(jobs: Seq[Job]): Seq[(Long, Long, Int)] = {
    val opening = Set("io.write", "pipeline.stats")
    val out = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var cur: Option[(Long, Long, Int)] = None
    var appended = false
    jobs.foreach { j =>
      val isLineage = j.layer == "io.lineage_append"
      if (appended && !isLineage) { cur.foreach(out += _); cur = None; appended = false }
      cur match {
        case Some((s, e, n)) => cur = Some((s, math.max(e, j.end), n + 1))
        case None if opening(j.layer) => cur = Some((j.start, j.end, 1))
        case None => ()
      }
      if (isLineage && cur.nonEmpty) appended = true
    }
    cur.filter(_ => appended).foreach(out += _)
    out.toSeq
  }

  def measure(spark: SparkSession, c: Call, k: Int, untracedWall: Double, cores: Int,
      rec: Recorder): Map[String, Double] = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    try {
      val m = mutable.LinkedHashMap.empty[String, Double]
      listener.fence(sc)
      c.prepare(k)
      val root = rec.spans.length
      val rows = rec.span("traced_call")(c.run(k, Some(rec)))
      listener.fence(sc)
      val callJobs = listener.jobs(rec.spans(root).start, rec.spans(root).end)
      rec.addAll(callJobs.map(j => (j.layer, j.start, j.end)), root)
      val wall = rec.seconds(root)
      def layer(name: String) = covered(callJobs.filter(_.layer == name).map(j => (j.start, j.end)))
      val tasks = listener.tasks(callJobs)

      m("pipeline.traced_wall_s") = wall
      m("trace_overhead") = wall - untracedWall
      m("pipeline.unattributed_s") = wall - covered(callJobs.map(j => (j.start, j.end)))
      Seq("io.pending", "io.discovery", "io.lineage_append", "pipeline.stats")
        .foreach(l => m(l + "_s") = layer(l))
      val writeJobs = layer("io.write")
      val writeTasks = listener.tasks(callJobs.filter(_.layer == "io.write"))
      m("io.bytes_written") = writeTasks.map(_.outBytes).sum.toDouble
      m("io.files_written") = files(c.out(k)).toDouble
      m("io.lineage_files") = files(c.lineage(k)).toDouble

      val bs = batches(callJobs)
      val batchS = bs.map { case (s, e, _) => (e - s) / 1e6 }
      m("pipeline.batch_n") = bs.length.toDouble
      m("pipeline.batch_s.p50") = if (bs.isEmpty) 0.0 else median(batchS)
      m("pipeline.batch_s.pNN") = if (bs.isEmpty) 0.0 else tail(batchS)
      m("pipeline.jobs_per_batch") = if (bs.isEmpty) 0.0 else bs.map(_._3).sum.toDouble / bs.length

      // the post-rebalance kernel stages: write-job stages that read a shuffle
      val skews = writeTasks.groupBy(_.stage).values.filter(_.exists(_.shuffleRead > 0)).map { ts =>
        val run = ts.map(_.runMs.toDouble)
        run.max / math.max(1.0, median(run))
      }
      m("io.task_skew") = if (skews.isEmpty) 0.0 else skews.sum / skews.size
      m("spark.tasks") = tasks.length.toDouble
      m("spark.executor_run_s") = tasks.map(_.runMs).sum / 1e3
      m("spark.executor_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      m("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
      m("spark.core_util") = m("spark.executor_run_s") / (wall * cores)
      m("spark.scheduler_delay_s") = tasks.map(_.delayMs).sum / 1e3
      m("spark.spill_bytes") = tasks.map(_.spill).sum.toDouble
      m("spark.peak_exec_mem_bytes") = if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble
      m("spark.task_failures") = tasks.count(_.failed).toDouble

      // Probes: each layer alone over the call's pending partitions, batch by
      // batch. Both workloads run every probe, so every per-layer time is a
      // measurement; on takedown_overlay the EP1 probes (rebalance, runRows,
      // kernel phases) time layers its call does not run, over the docs it
      // rewrites, and on extract_bulk the served-read probe reads the input
      // through readWithOverlay with nothing taken down.
      val input = spark.read.parquet(c.input)
      val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      def probe(name: String)(f: Seq[Int] => org.apache.spark.sql.DataFrame): (Double, Seq[Task]) = {
        val idx = rec.spans.length
        rec.span(name) {
          c.pending.grouped(CommitBatch).foreach { b =>
            f(b).write.format("noop").mode("overwrite").save()
          }
        }
        listener.fence(sc)
        val js = listener.jobs(rec.spans(idx).start, rec.spans(idx).end)
        (rec.seconds(idx), listener.tasks(js))
      }
      val batchInput = (b: Seq[Int]) => input.filter(col("partition_id").isin(b: _*))
      val rebalanced = (b: Seq[Int]) =>
        Skew.rebalanceBySize(batchInput(b), size(col("spans")), col("doc_id"), shuffleParts)
      val (scanS, scanTasks) = probe("probe.scan")(batchInput)
      m("io.scan_s") = scanS
      m("io.scan_bytes") = scanTasks.map(_.inBytes).sum.toDouble

      val (rebS, rebTasks) = probe("probe.scan_rebalance")(rebalanced)
      val (rowsS, _) = probe("probe.scan_rebalance_runRows")(b => ExtractJob.runRows(rebalanced(b)))
      m("io.rebalance_s") = rebS - scanS
      m("io.shuffle_write_bytes") = rebTasks.map(_.shuffleWrite).sum.toDouble
      m("io.shuffle_read_bytes") = rebTasks.map(_.shuffleRead).sum.toDouble
      import spark.implicits._
      val docs = batchInput(c.pending).as[Doc].collect()
      val kp = rec.span("probe.kernel")(KernelProbe.measure(docs, cores))
      m("pipeline.kernel_s") = kp.kernelS
      m("pipeline.row_conv_s") = (rowsS - rebS) - kp.kernelS
      m("segment.parse_s") = kp.parseS
      m("segment.spans") = kp.spans.toDouble
      m("classify.a2_s") = kp.a2S
      m("classify.a2_fallbacks") = kp.a2Fallbacks.toDouble
      m("classify.filter_s") = kp.filterS
      m("classify.hit_pages") = kp.hitPages.toDouble
      m("ranges.merge_s") = kp.mergeS
      m("ranges.pages_in") = kp.pagesIn.toDouble
      m("ranges.pages_kept") = kp.pagesKept.toDouble
      m("ranges.keep_ratio") = kp.pagesKept.toDouble / math.max(1L, kp.pagesIn)
      m("pipeline.emit_s") = kp.kernelS - kp.parseS - kp.a2S - kp.filterS - kp.mergeS
      m("pipeline.chars_in") = kp.charsIn.toDouble
      m("pipeline.chars_out") = kp.charsOut.toDouble

      c match {
        case _: TakedownCall =>
          // the copy-on-write rewrite: checkpoint of the kept rows, then the write
          m("io.write_s") = writeJobs
          m("pipeline.partitions_rewritten") = rows.length.toDouble
          m("pipeline.rows_deleted") = rows.map(_.spans_out).sum.toDouble
          m("io.overlay_read_s") = rec.seconds(rec.spans.indexWhere(_.name == "TakedownJob.readWithOverlay", root))
        case _ =>
          // the write job also scans, shuffles and runs EP1: take the probe's share off
          m("io.write_s") = writeJobs - rowsS
          m("pipeline.partitions_rewritten") = 0.0
          m("pipeline.rows_deleted") = 0.0
          val none = c.dir(k).resolve("none").toString
          m("io.overlay_read_s") = rec.span("probe.readWithOverlay") {
            val t0 = System.nanoTime()
            TakedownJob.readWithOverlay(spark, c.input, none, none).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
      }
      m.toMap
    } finally sc.removeSparkListener(listener)
  }
}
