package perfbench

import graft.io.TableIO
import graft.model.{Doc, LineageRow}
import graft.pipeline.{Ep1Config, Ep1Core, ExtractJob, TakedownJob}
import perfbench.Corpus.Shape
import perfbench.Gate.PartDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Set-up and the timed call of each workload. Set-up writes everything a
  * call needs under one directory; the program only ever sees the parquet. */
object Workloads {

  val CommitBatch = 8

  def shape(name: String): Shape = name match {
    case "extract_bulk"     => Corpus.Bulk
    case "takedown_overlay" => Corpus.Takedown
    case other              => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- files shared between the set-up and run processes -------------------

  private def writeLines(p: Path, lines: Iterable[String]): Unit =
    Files.write(p, lines.asJava)

  private def readLines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty) else Nil

  def writeDigests(p: Path, d: Map[Int, PartDigest]): Unit =
    writeLines(p, d.toSeq.sortBy(_._1).map { case (k, v) => s"$k ${v.docs} ${v.sum}" })

  def readDigests(p: Path): Map[Int, PartDigest] =
    readLines(p).map(_.split(' ')).map(a => a(0).toInt -> PartDigest(a(1).toLong, a(2).toLong)).toMap

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  // ---- set-up ----------------------------------------------------------------

  /** Stage `shape`'s corpus under `dir`: the input table, the expected
    * per-partition digests and, for takedown_overlay, the delete list. */
  def setup(spark: SparkSession, shape: Shape, seed: Long, dir: Path): Unit = {
    import spark.implicits._
    Files.createDirectories(dir)
    val st = Corpus.starts(Corpus.partitionSizes(shape, seed))
    val docs = spark.range(0, shape.partitions, 1, math.min(shape.partitions, 16)).as[Long]
      .flatMap(pid => Corpus.partitionDocs(shape, seed, st, pid.toInt))
      .persist()
    try {
      docs.toDF().write.partitionBy("partition_id").parquet(dir.resolve("input").toString)
      shape.name match {
        case "takedown_overlay" => stageTakedown(spark, shape, seed, st, docs, dir)
        case _                  => stageExtract(spark, docs, dir)
      }
    } finally docs.unpersist()
  }

  private def stageExtract(spark: SparkSession, docs: org.apache.spark.sql.Dataset[Doc],
      dir: Path): Unit = {
    import spark.implicits._
    // expected output: EP1's pure core over the generated docs, not runJob
    val expected = docs.mapPartitions { it =>
      Gate.merge(it.map(d => (d.partition_id, PartDigest(1, Gate.spanHash(d.doc_id, Ep1Core.process(d))))))
        .iterator.map { case (p, d) => (p, d.docs, d.sum) }
    }.collect()
    writeDigests(dir.resolve("expected.txt"),
      Gate.merge(expected.iterator.map { case (p, n, s) => (p, PartDigest(n, s)) }))
  }

  private def stageTakedown(spark: SparkSession, shape: Shape, seed: Long, st: Array[Long],
      docs: org.apache.spark.sql.Dataset[Doc], dir: Path): Unit = {
    import spark.implicits._
    val listed = Corpus.deletedPartitions(shape, seed).toSeq.sorted.flatMap { p =>
      (st(p) until st(p + 1)).filter(i => Corpus.isDeleted(seed, i)).map(i => (p, f"doc_$i%06d"))
    }
    listed.map(_._2).toDF("doc_id").write.parquet(dir.resolve("deletes").toString)
    writeLines(dir.resolve("deleted.txt"),
      listed.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, ids) => s"$p ${ids.length}" })
    val ids = listed.map(_._2).toSet
    val expected = docs.filter(d => !ids.contains(d.doc_id)).mapPartitions { it =>
      Gate.merge(it.map(d => (d.partition_id, PartDigest(1, Gate.spanHash(d.doc_id, d.spans)))))
        .iterator.map { case (p, d) => (p, d.docs, d.sum) }
    }.collect()
    writeDigests(dir.resolve("expected.txt"),
      Gate.merge(expected.iterator.map { case (p, n, s) => (p, PartDigest(n, s)) }))
  }

  // ---- the timed call ----------------------------------------------------------

  /** One workload's timed call over a staged directory. Call `k` writes
    * under `calls/k`, so every call starts from the same state. */
  abstract class Call(val spark: SparkSession, val staged: Path, calls: Path) {
    val input: String = staged.resolve("input").toString
    val expected: Map[Int, PartDigest] = readDigests(staged.resolve("expected.txt"))
    def dir(k: Int): Path = calls.resolve(k.toString)
    def out(k: Int): String = dir(k).resolve("out").toString
    def lineage(k: Int): String = dir(k).resolve("lineage").toString
    /** Partitions the call has to process, in the order the job takes them. */
    def pending: Seq[Int]
    /** Docs the call reads: the pending partitions' docs. */
    def docs: Long = pending.map(p => expected(p).docs).sum
    def prepare(k: Int): Unit = Files.createDirectories(dir(k))
    def run(k: Int, rec: Option[Recorder]): Seq[LineageRow]
    def failures(k: Int): Set[Int]
    def cleanup(k: Int): Unit = deleteTree(dir(k))
  }

  final class ExtractCall(spark: SparkSession, staged: Path, calls: Path)
      extends Call(spark, staged, calls) {
    val pending: Seq[Int] = expected.keys.toSeq.sorted

    def run(k: Int, rec: Option[Recorder]): Seq[LineageRow] = {
      val f = () => ExtractJob.runJob(spark, input, out(k), lineage(k), Ep1Config(), CommitBatch)
      rec.fold(f())(_.span("ExtractJob.runJob")(f()))
    }

    def failures(k: Int): Set[Int] = Gate.extractFailures(expected,
      Gate.tableDigest(spark.read.parquet(out(k))),
      TableIO.readLineage(spark, lineage(k)).collect().toSeq)
  }

  final class TakedownCall(spark: SparkSession, staged: Path, calls: Path)
      extends Call(spark, staged, calls) {
    private val deletes = staged.resolve("deletes").toString
    val deleted: Map[Int, Long] = readLines(staged.resolve("deleted.txt"))
      .map(_.split(' ')).map(a => a(0).toInt -> a(1).toLong).toMap
    val pending: Seq[Int] = deleted.keys.toSeq.sorted
    /** A takedown serves the whole corpus, so its rate counts every doc. */
    override def docs: Long = expected.values.map(_.docs).sum + deleted.values.sum

    private def served(k: Int) = TakedownJob.readWithOverlay(spark, input, out(k), lineage(k))

    def run(k: Int, rec: Option[Recorder]): Seq[LineageRow] = {
      def span[T](name: String)(f: => T): T = rec.fold(f)(_.span(name)(f))
      span("takedown") {
        val rows = span("TakedownJob.runJob") {
          TakedownJob.runJob(spark, input, deletes, out(k), lineage(k), commitBatch = CommitBatch)
        }
        span("TakedownJob.readWithOverlay") {
          served(k).write.format("noop").mode("overwrite").save()
        }
        rows
      }
    }

    def failures(k: Int): Set[Int] = {
      val view = served(k)
      val listed = spark.read.parquet(deletes)
      val servingListed = view.join(listed, Seq("doc_id"), "left_semi")
        .select(col("partition_id").cast("int")).distinct().collect().map(_.getInt(0)).toSet
      Gate.takedownFailures(expected, Gate.tableDigest(view), servingListed, deleted,
        TableIO.readLineage(spark, lineage(k)).collect().toSeq)
    }
  }

  def call(spark: SparkSession, name: String, staged: Path, calls: Path): Call = name match {
    case "takedown_overlay" => new TakedownCall(spark, staged, calls)
    case _                  => new ExtractCall(spark, staged, calls)
  }
}
