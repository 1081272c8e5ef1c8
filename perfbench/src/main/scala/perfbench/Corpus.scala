package perfbench

import graft.io.Synth
import graft.model.{Doc, Span}
import graft.segment.PageSegmenter

import scala.collection.mutable

/** Seeded corpus generators for the workloads. Every document is a
  * pure function of `(seed, doc index, partition id)`, so generation can run
  * distributed and the same seed always yields the same parquet.
  */
object Corpus {

  /** Size parameters of one workload's corpus. */
  final case class Shape(
      name: String,
      partitions: Int,
      docs: Int,
      /** extract_bulk: Zipf exponent of the partition sizes (0 = uniform). */
      zipf: Double = 0.0,
      /** extract_bulk: one doc in `policyEvery` is policy-sized (0 = none). */
      policyEvery: Int = 0)

  // The sizes are chosen so one timed call takes a few seconds on 4 cores;
  // see perfbench/README.md for what each workload is meant to stress.
  val Bulk = Shape("extract_bulk", partitions = 16, docs = 6000, zipf = 1.1, policyEvery = 100)
  val Takedown = Shape("takedown_overlay", partitions = 16, docs = 16000)

  val PolicyMinPages = 100
  val PolicyMaxPages = 300

  /** SplitMix64 finalizer: the hash behind every seeded choice here. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, salt: Long, i: Long): Long = mix(mix(seed ^ mix(salt)) + i)

  /** Docs per partition id. Zipf-weighted sizes are assigned to partition
    * ids through a seeded permutation, so which id is the giant one varies
    * with the seed; the sizes always sum to `shape.docs`. */
  def partitionSizes(shape: Shape, seed: Long): Array[Int] = {
    val p = shape.partitions
    val w = Array.tabulate(p)(k => 1.0 / math.pow(k + 1, shape.zipf))
    val total = w.sum
    val ranked = w.map(x => math.max(1, math.floor(shape.docs * x / total).toInt))
    ranked(0) += shape.docs - ranked.sum
    val perm = (0 until p).sortBy(k => rnd(seed, 1, k))
    val sizes = new Array[Int](p)
    perm.zipWithIndex.foreach { case (pid, rank) => sizes(pid) = ranked(rank) }
    sizes
  }

  /** First global doc index of each partition (prefix sums of the sizes). */
  def starts(sizes: Array[Int]): Array[Long] = sizes.scanLeft(0L)(_ + _)

  /** Exactly one doc in each run of `policyEvery` consecutive indices is
    * policy-sized; the seed picks its position within the run. */
  def isPolicy(shape: Shape, seed: Long, i: Long): Boolean =
    shape.policyEvery > 0 && java.lang.Long.remainderUnsigned(rnd(seed, 2, i / shape.policyEvery),
      shape.policyEvery) == i % shape.policyEvery

  /** Document `i` of `shape`, placed in partition `pid`. */
  def doc(shape: Shape, seed: Long, i: Long, pid: Int): Doc = {
    val d = if (isPolicy(shape, seed, i)) policyDoc(seed, i) else Synth.mkDoc(i, shape.partitions, seed)
    d.copy(partition_id = pid)
  }

  /** Every doc of partition `pid`, in index order. */
  def partitionDocs(shape: Shape, seed: Long, starts: Array[Long], pid: Int): Iterator[Doc] =
    (starts(pid) until starts(pid + 1)).iterator.map(i => doc(shape, seed, i, pid))

  /** Spans of `d` sorted by offset, each with its page (unmarked spans take
    * the page of the nearest preceding marked span, as EP1 does). */
  private def paged(d: Doc): Seq[(Span, Int, String)] = {
    var current = 1
    d.spans.sortBy(_.offset).map { s =>
      val (p, body) = PageSegmenter.parseHead(s.text)
      if (p >= 0) current = p
      (s, current, if (p >= 0) body else null)
    }
  }

  /** A policy-sized doc of 100-300 pages, built by concatenating
    * `Synth.mkDoc` documents. Each part's pages are renumbered to continue
    * where the previous part stopped (dense, so a page missing from both
    * sources leaves no gap) and its markers are re-rendered with
    * `PageSegmenter.renderMarker`. */
  def policyDoc(seed: Long, i: Long): Doc = {
    val target = PolicyMinPages +
      java.lang.Long.remainderUnsigned(rnd(seed, 3, i), PolicyMaxPages - PolicyMinPages + 1).toInt
    val out = mutable.ArrayBuffer.empty[Span]
    var base = 0
    var part = 0L
    while (base < target) {
      val sub = Synth.mkDoc((1L << 40) + i * 256 + part, 1, seed)
      val spans = paged(sub)
      val rank = spans.map(_._2).distinct.sorted.zipWithIndex.toMap
      spans.foreach { case (s, p, body) =>
        val page = base + rank(p) + 1
        if (page <= target) {
          val text = if (body == null) s.text else PageSegmenter.renderMarker(page) + body
          out += s.copy(text = text, offset = out.length)
        }
      }
      base += rank.size
      part += 1
    }
    Doc(f"doc_$i%06d", out.toSeq, 0)
  }

  /** The doc ids on the takedown delete list: about 2% of the corpus, all
    * inside 4 seeded partitions (8% of each of those partitions' docs). */
  def deletedPartitions(shape: Shape, seed: Long): Set[Int] =
    (0 until shape.partitions).sortBy(k => rnd(seed, 4, k)).take(4).toSet

  def isDeleted(seed: Long, i: Long): Boolean =
    java.lang.Long.remainderUnsigned(rnd(seed, 5, i), 100) < 8
}
