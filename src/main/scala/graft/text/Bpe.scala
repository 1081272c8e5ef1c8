package graft.text

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Byte-pair-encoding merge training (Sennrich et al. 2016), distributed the
  * way real BPE trainers work: the corpus is reduced ONCE to a word-
  * frequency table (one groupBy — the only corpus-sized shuffle), and every
  * merge round then runs on that bounded vocab relation: adjacent-symbol
  * pairs exploded, weighted by word count, partial-aggregated, and the
  * argmax — ONE row — collected to the driver as the round's merge rule,
  * which a typed map then applies to the vocab's symbol sequences.
  *
  * Merge semantics are the canonical greedy left-to-right single pass: on a
  * match both symbols are consumed and scanning continues AFTER the merged
  * token (so `a a a a` with rule (a,a) becomes `aa aa`, and `a a a`
  * becomes `aa a`). [[mergePair]] implements it directly; the oracle
  * replays it with a plain string `replace` over `[sym][sym]`-wrapped
  * encodings — wrapping makes adjacent matches share no characters, so
  * sequential non-overlapping replace is exactly the same greedy pass.
  *
  * Ties in the argmax break on (pair count desc, left asc, right asc),
  * strings in UTF-8 byte order — a total order, so training is
  * deterministic and engine-replayable. All counts are int64.
  */
object Bpe {

  final case class Merge(round: Int, lhs: String, rhs: String, pairCount: Long)

  /** Canonical greedy left-to-right merge of (a, b) in one pass. */
  def mergePair(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Spark's string order — UTF-8 bytes, which is code-point order — so
    * driver-side tie-breaks match `orderBy` on string columns. JVM
    * `String.compareTo` compares UTF-16 units instead, which puts
    * supplementary-plane symbols (surrogates, U+D800–U+DFFF) before
    * U+E000–U+FFFF. */
  private[text] object Utf8Order extends Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(a.length, b.length)
    }
  }

  private val VocabSchema = StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("syms", ArrayType(StringType, containsNull = false),
      nullable = false)))

  /** The word-frequency vocab with each word split to character symbols:
    * (word, cnt, syms). One explode + one groupBy over the corpus. */
  def vocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokensCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", filter(split(col("word"), ""), s => s =!= ""))

  /** Train `k` merges; returns the rules and the final segmented vocab
    * (word, cnt, syms). Each round collects exactly one argmax row; the
    * evolving vocab is persisted per round and the previous round released
    * (k is small by construction — this is a driver-paced loop over a
    * bounded relation, not a corpus iteration). Stops early if no pair is
    * left. */
  def trainMerges(df: DataFrame, textCol: String, k: Int)
      : (Seq[Merge], DataFrame) = trainMergesOnVocab(vocab(df, textCol), k)

  /** [[trainMerges]] from an already-built (word, cnt, syms) vocab. */
  private[text] def trainMergesOnVocab(v: DataFrame, k: Int)
      : (Seq[Merge], DataFrame) = {
    require(k >= 1, s"k must be >= 1: $k")
    val merges = Seq.newBuilder[Merge]
    var state = graft.io.Persisted.track(v
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var prev: DataFrame = null
    var round = 1
    var done = false
    while (round <= k && !done) {
      val best = state.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          j => struct(element_at(col("syms"), j + 1).as("lhs"),
            element_at(col("syms"), j + 2).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(round, a, b, pc)
        val next = graft.io.Persisted.track(state.mapPartitions { it =>
          it.map { r =>
            Row(r.getString(0), r.getLong(1),
              mergePair(r.getSeq[String](2).toVector, a, b))
          }
        }(Encoders.row(VocabSchema))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        next.count() // materialize before releasing the parent
        if (prev != null) prev.unpersist()
        prev = state
        state = next
        round += 1
      }
    }
    if (prev != null) prev.unpersist()
    (merges.result(), state)
  }

  /** Batched trainer: per driver round, collect a WINDOW of top pairs and
    * select the longest safe prefix to apply as one batch — so a 30k-merge
    * vocab needs ~hundreds of driver rounds instead of 30k sequential jobs,
    * while producing BIT-IDENTICAL rules (round numbers, order, pair counts)
    * to [[trainMerges]]. BpeSpec proves the equivalence corpus-by-corpus.
    *
    * Why the prefix is safe (the batch ≡ sequential argument): walking the
    * (count desc, lhs, rhs)-sorted pair list, a candidate joins the batch
    * only while it is symbol-disjoint from every selected pair AND neither
    * of its symbols equals a selected pair's merged token. Disjointness
    * makes selected counts invariant under applying earlier selected rules
    * (a merge never deletes a token, so it can neither create nor break
    * another disjoint pair's adjacency — e.g. `c a b d` → `c ab d` leaves
    * (c,d) non-adjacent). Pairs sharing a symbol with any selected rule
    * sort at-or-after the first conflict, and every pair CREATED by a
    * selected rule (x, a+b) is bounded by an old pair that shared a symbol
    * with that rule (each `x a b` occurrence was an (x,a) occurrence), so
    * after trimming the selection to counts STRICTLY above the conflict
    * bound, no changed or created pair can overtake a selected rule at its
    * sequential round — the sequential argmax sequence IS the batch. When
    * the trim empties the batch (ties at the bound), fall back to the
    * single argmax rule, which is trivially sequential.
    *
    * Returns the per-driver-round batches (flatten for the rule list) and
    * the final segmented vocab. `window` caps the collected candidate list
    * per round (driver memory bound: window rows of two short strings).
    */
  def trainMergesBatched(df: DataFrame, textCol: String, k: Int,
      window: Int = 64): (Seq[Seq[Merge]], DataFrame) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(window >= 2, s"window must be >= 2: $window")
    val batches = Seq.newBuilder[Seq[Merge]]
    var state = graft.io.Persisted.track(vocab(df, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var prev: DataFrame = null
    var round = 1
    var driverRounds = 0
    var done = false
    while (round <= k && !done) {
      val top = state.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          j => struct(element_at(col("syms"), j + 1).as("lhs"),
            element_at(col("syms"), j + 2).as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("lhs"), col("rhs"))
        .limit(window).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) done = true
      else {
        val remaining = k - round + 1
        // longest safe prefix: pairwise symbol-disjoint, no symbol equal to
        // an earlier selected rule's merged token
        val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val usedSyms = scala.collection.mutable.Set.empty[String]
        val mergedToks = scala.collection.mutable.Set.empty[String]
        var conflictPc: Option[Long] = None
        var i = 0
        while (i < top.length && conflictPc.isEmpty && selected.size < remaining) {
          val (l, r, pc) = top(i)
          if (usedSyms(l) || usedSyms(r) || mergedToks(l) || mergedToks(r))
            conflictPc = Some(pc)
          else {
            selected += ((l, r, pc))
            usedSyms += l; usedSyms += r; mergedToks += (l + r)
          }
          i += 1
        }
        // strict-count trim: anything at or below the bound could be tied
        // or overtaken by a pair the batch itself changes/creates
        val bound: Option[Long] = conflictPc.orElse(
          if (top.length == window && selected.size >= remaining) None
          else if (top.length == window) Some(top.last._3)
          else None)
        val safe = bound match {
          case Some(b) =>
            val t = selected.takeWhile(_._3 > b)
            if (t.isEmpty) selected.take(1) else t // argmax fallback
          case None => selected
        }
        val rules = safe.zipWithIndex.map { case ((l, r, pc), j) =>
          Merge(round + j, l, r, pc)
        }.toSeq
        batches += rules
        val ruleArr = rules.map(m => (m.lhs, m.rhs)).toArray
        // localCheckpoint, NOT persist: persist caches the data but the
        // logical plan still nests one mapPartitions deeper per round, so
        // analyzer/optimizer cost grows quadratically with rounds — at a
        // production 30k-merge vocab the driver spends 10x the cluster
        // time re-planning (the HITS/kcore lineage-growth class). The
        // eager checkpoint truncates the plan to a LogicalRDD each round;
        // old round blocks are freed by the ContextCleaner when the
        // previous DataFrame is dropped (periodic driver GC below).
        val next = state.mapPartitions { it =>
          it.map { r =>
            var syms = r.getSeq[String](2).toVector
            var j = 0
            // rank order: per-word sequential application of disjoint rules
            // == the sequential rounds (see scaladoc)
            while (j < ruleArr.length) {
              syms = mergePair(syms, ruleArr(j)._1, ruleArr(j)._2); j += 1
            }
            Row(r.getString(0), r.getLong(1), syms)
          }
        }(Encoders.row(VocabSchema)).localCheckpoint(true)
        if (prev != null) prev.unpersist()
        prev = state
        state = next
        driverRounds += 1
        if (driverRounds % 64 == 0) System.gc() // let the cleaner drop old blocks
        round += rules.size
      }
    }
    if (prev != null) prev.unpersist()
    (batches.result(), state)
  }

  /** Production-vocab trainer: reduce the corpus to the word-frequency
    * vocab with ONE Spark job (the only corpus-scale work BPE has — this
    * is how reference trainers operate too: HuggingFace/SentencePiece
    * train on aggregated counts), collect the BOUNDED vocab to the
    * driver, and run the classic heap-based merge loop locally with
    * incremental pair-count maintenance. 30k merges cost seconds of
    * driver arithmetic instead of 30k (or even hundreds of) Spark
    * rounds. Rules are BIT-IDENTICAL to [[trainMerges]] — same greedy
    * merge, same (count desc, lhs asc, rhs asc) tie order (BpeSpec
    * asserts rule-for-rule equality).
    *
    * `maxVocab` bounds the driver collect (distinct words, NOT corpus
    * rows — a 100 TB corpus with a 10^7-word vocabulary collects ~1 GB
    * of (word, count) pairs, the standard single-node training input).
    * A vocab above the bound refuses loudly; the caller falls back to
    * [[trainMergesBatched]], which never collects the vocab. */
  def trainMergesLocal(df: DataFrame, textCol: String, k: Int,
      maxVocab: Int = 20000000): (Seq[Merge], DataFrame) =
    trainMergesLocalOnVocab(vocab(df, textCol), k, maxVocab)

  /** [[trainMergesLocal]] from an already-built (word, cnt, syms) vocab. */
  private[text] def trainMergesLocalOnVocab(v: DataFrame, k: Int,
      maxVocab: Int): (Seq[Merge], DataFrame) = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = v.sparkSession
    val rows = v.limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"vocab exceeds maxVocab=$maxVocab — use trainMergesBatched")
    val syms = rows.map(_.getSeq[String](2).toVector)
    val cnts = rows.map(_.getLong(1))

    // pair -> current weighted count, membership, and a (cnt desc, lhs,
    // rhs) ordered selection tree mirroring the distributed argmax exactly
    val count = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val members = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.HashSet[Int]]
    val selOrd: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long.reverse, Utf8Order, Utf8Order)
    val tree = scala.collection.mutable.TreeSet.empty[(Long, String, String)](selOrd)

    def adjacentPairs(v: Vector[String]): Seq[(String, String)] =
      if (v.length < 2) Nil
      else (0 until v.length - 1).map(i => (v(i), v(i + 1)))

    def applyDelta(p: (String, String), d: Long, idx: Int, join: Boolean): Unit = {
      val old = count.getOrElse(p, 0L)
      if (old != 0L) tree.remove((old, p._1, p._2))
      val nw = old + d
      if (nw > 0L) { count(p) = nw; tree.add((nw, p._1, p._2)) }
      else count.remove(p)
      val set = members.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty)
      if (join) set.add(idx) else ()
    }

    // build initial state
    var i = 0
    while (i < syms.length) {
      adjacentPairs(syms(i)).foreach { p => applyDelta(p, cnts(i), i, join = true) }
      i += 1
    }

    val merges = Seq.newBuilder[Merge]
    var round = 1
    while (round <= k && tree.nonEmpty) {
      val (pc, a, b) = tree.head
      merges += Merge(round, a, b, pc)
      val affected = members.getOrElse((a, b),
        scala.collection.mutable.HashSet.empty[Int]).toArray
      java.util.Arrays.sort(affected)
      affected.foreach { idx =>
        val before = syms(idx)
        val after = mergePair(before, a, b)
        val cnt = cnts(idx)
        // net per-pair delta between the word's old and new adjacency
        val delta = scala.collection.mutable.HashMap.empty[(String, String), Long]
        adjacentPairs(before).foreach(p => delta(p) = delta.getOrElse(p, 0L) - cnt)
        adjacentPairs(after).foreach(p => delta(p) = delta.getOrElse(p, 0L) + cnt)
        delta.foreach { case (p, d) => if (d != 0L) applyDelta(p, d, idx, join = false) }
        // membership: drop from pairs the word no longer contains, join new
        val oldSet = adjacentPairs(before).toSet
        val newSet = adjacentPairs(after).toSet
        (oldSet -- newSet).foreach(p => members.get(p).foreach(_.remove(idx)))
        (newSet -- oldSet).foreach(p =>
          members.getOrElseUpdate(p,
            scala.collection.mutable.HashSet.empty).add(idx))
        syms(idx) = after
      }
      // the merged pair itself must be gone (consumed occurrences)
      round += 1
    }

    import scala.jdk.CollectionConverters._
    val outRows = (0 until syms.length).map(j =>
      Row(rows(j).getString(0), cnts(j), syms(j))).asJava
    (merges.result(), spark.createDataFrame(outRows, VocabSchema))
  }
}
