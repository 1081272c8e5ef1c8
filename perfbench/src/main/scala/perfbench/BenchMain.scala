package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** JVM entry point of the benchmark; `perfbench/run.py` drives it.
  *
  * {{{
  *   --workload W --seed N --work DIR --cores C --seconds S --trace 0|1 --setup-repeats R
  * }}}
  * It prints one JSON object as its last stdout line.
  */
object BenchMain {

  def session(cores: Int, work: Path): SparkSession = {
    // the same session settings as `graft.Main`, the production entry point
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.graft.topk.rewrite", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val value = v match {
      case d: Double if d.isNaN || d.isInfinite => "null"
      case s: String                          => "\"" + s + "\""
      case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1))
      case xs: Iterable[_]                    => xs.mkString("[", ",", "]")
      case other                              => other.toString
    }
    "\"" + k + "\":" + value
  }.mkString("{", ",", "}")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Peak resident set of this JVM so far, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally src.close()
  }

  /** Untimed calls before the timed ones: one leaves the JIT still warming
    * the query-planning path, so later calls keep getting faster. */
  val WarmupCalls = 2

  /** Timed calls per run at least, so the median never rests on one or two. */
  val MinCalls = 3

  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  /** (steal, all) CPU ticks of the host so far, from the first line of
    * /proc/stat; steal is time the hypervisor ran something else. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val work = Path.of(opts("work")).toAbsolutePath
    val cores = opts("cores").toInt
    val spark = session(cores, work)
    log(s"$workload seed $seed on local[$cores]")
    try println(run(spark, workload, seed, work, cores, opts("seconds").toDouble,
      opts("trace") == "1", opts("setup-repeats").toInt))
    finally spark.stop()
  }

  /** Stage the corpus, make [[WarmupCalls]] untimed calls, then timed calls
    * until `seconds` of call time have been measured, [[MinCalls]] at least;
    * every call's output goes through the gate. Set-up runs `setupRepeats` times in all: the first
    * stages the corpus the calls use, the others run after the timed calls
    * and only add samples. With `setupRepeats` 0 the corpus staged by an
    * earlier process is reused. */
  def run(spark: SparkSession, workload: String, seed: Long, work: Path, cores: Int,
      seconds: Double, trace: Boolean, setupRepeats: Int): String = {
    val staged = work.resolve("staged")
    val setupS = mutable.ArrayBuffer.empty[Double]
    def stage(r: Int): Unit = {
      val dir = work.resolve(s"setup-$r")
      Workloads.deleteTree(dir)
      val t0 = System.nanoTime()
      Workloads.setup(spark, Workloads.shape(workload), seed, dir)
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"setup $r: ${setupS.last}%.3f s")
      if (r == 1) { Workloads.deleteTree(staged); Files.move(dir, staged) }
      else Workloads.deleteTree(dir)
    }
    if (setupRepeats > 0) stage(1)

    val calls = work.resolve(s"calls-$cores")
    Workloads.deleteTree(calls)
    val c = Workloads.call(spark, workload, staged, calls)
    def timed(k: Int): Double = {
      c.prepare(k)
      val t0 = System.nanoTime()
      c.run(k, None)
      val s = (System.nanoTime() - t0) / 1e9
      log(f"call $k: $s%.3f s")
      s
    }
    (0 until WarmupCalls).foreach(timed)
    val walls = mutable.ArrayBuffer.empty[Double]
    val ticks0 = cpuTicks()
    while (walls.sum < seconds || walls.length < MinCalls) walls += timed(WarmupCalls + walls.length)
    val rss = peakRssMb()
    val ticks1 = cpuTicks()
    val n = WarmupCalls + walls.length

    val layers = mutable.LinkedHashMap.empty[String, Double]
    var traced = 0
    if (trace) {
      val rec = new Recorder(s"$workload-s$seed-c$cores-${ProcessHandle.current().pid()}")
      layers ++= Layered.measure(spark, c, n, median(walls.toSeq), cores, rec)
      traced = 1
      rec.write(work.getParent.resolve(s"trace-$workload-s$seed.jsonl"))
    }
    (2 to setupRepeats).foreach(stage)
    val control = graft.Bench.calibrationControl(cores)
    layers("host.control_s") = control
    layers("host.steal_share") =
      (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    log(f"host control: $control%.3f s, steal share of the timed calls: ${layers("host.steal_share")}%.3f")

    val failed = (0 until n + traced).map { k =>
      val f = c.failures(k)
      c.cleanup(k)
      f.size
    }.sum
    log(s"gate: $failed of ${(n + traced) * c.expected.size} partitions failed")
    json(Seq(
      "docs" -> c.docs,
      "setup_s" -> setupS.toSeq,
      "call_s" -> walls.toSeq,
      "docs_per_s" -> c.docs / median(walls.toSeq),
      "peak_rss_mb" -> rss,
      "attempted" -> (n + traced) * c.expected.size,
      "failed" -> failed,
      "layers" -> layers.toMap))
  }
}
