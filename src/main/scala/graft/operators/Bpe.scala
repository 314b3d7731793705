package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * REAL merges-table byte-pair encoding — token-budget accounting against
 * an actual BPE vocabulary, replacing the regex approximation
 * [[graft.functions.Text.bpeTokenCount]] kept for the q39 pre-tokenizer
 * profile. Algorithm is the public BPE apply rule (Sennrich et al. 2016;
 * the GPT-2 encoder's merge loop): repeatedly find the LOWEST-RANK merge
 * whose pair is adjacent in the word and merge ALL its occurrences
 * leftmost-first non-overlapping, until no merge applies.
 *
 * SCALE SHAPE — the insight that makes per-document BPE affordable at
 * 100 TB is VOCABULARY MEMOIZATION: token count is a pure function of
 * the word, so the imperative merge loop runs once per DISTINCT word
 * (vocab-bounded, Zipf-tiny relative to the corpus), not once per
 * occurrence. One corpus tokenization pass builds the (doc, word, n)
 * frame (persisted for its two consumers — the groupOverlap convention);
 * the distinct-word frame runs the typed kernel; the encoded vocab joins
 * back by word (AQE broadcasts it when small) and a per-doc integer sum
 * finishes. The merges table itself is a task-closure constant
 * (vocabulary-sized, kilobytes).
 *
 * The DuckDB oracle replays the SAME algorithm as a recursive CTE over
 * separator-delimited symbol strings (boundary-safe patterns
 * `\x1f a \x1f b \x1f`; the double replace completes leftmost
 * non-overlapping merge-all for runs like `t h t h t h` where adjacent
 * matches share a delimiter) — see the q167 oracle.
 */
object Bpe {

  /**
   * Deterministic fixture merge table (rank = position): common English
   * pairs plus hierarchical merges (th+e, an+d, in+g) so multi-level
   * application is exercised, not just single-char pairing. Duplicated
   * verbatim in the q167 oracle SQL — the two lists must stay identical.
   */
  val fixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("s", "t"), ("e", "n"),
    ("a", "t"), ("e", "s"), ("o", "r"), ("in", "g"))

  /** CODEPOINT-level symbol split — the base segmentation every BPE
    * face (learn batched/fast/local, apply) starts from. Value-identical
    * to a per-char split on any BMP-only corpus (every pinned oracle),
    * but a Java-char split would tear an astral codepoint (emoji, math
    * alphanumerics) into two lone surrogates — un-encodable as UTF-8,
    * silently breaking [[TokenShards]]' byte-fallback total encoding and
    * diverging from the DuckDB replay's `str_split(w, '')`, which splits
    * codepoints. One helper so learn and apply can never disagree. */
  private[operators] def codepointSymbols(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /**
   * Apply the merge table to one word; returns the final symbol sequence.
   * Exposed for the spec's golden-string pins. `ranks` maps a pair to its
   * merge priority (lower merges first).
   */
  def applyMerges(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms: Vector[String] = codepointSymbols(word).toVector
    var done = syms.length < 2
    while (!done) {
      // lowest-rank adjacent pair present right now
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL occurrences of the best pair, leftmost-first
        // non-overlapping (the GPT-2 apply loop: after a merge, scanning
        // resumes AFTER the merged symbol)
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue) == best) {
            out += syms(j) + syms(j + 1)
            j += 2
          } else {
            out += syms(j)
            j += 1
          }
        }
        syms = out.result()
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /**
   * Per-document REAL BPE token counts: `(idCol, n_bpe_tokens)`.
   * Tokenization is the corpus-wide
   * [[graft.functions.Text.edgeStrippedTokens]] rule; documents whose
   * text yields no tokens (null/whitespace-only) are dropped.
   */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)],
      unpersistHook: (() => Unit) => Unit = _ => ()): DataFrame = {
    require(merges.nonEmpty, "merges must be non-empty")
    require(merges.distinct.size == merges.size, "duplicate merge pairs are ambiguous")
    val ranks = merges.zipWithIndex.toMap
    WordFrames.memoizedTokenCounts(docs, idCol, textCol, "n_bpe_tokens",
      unpersistHook)(w => applyMerges(w, ranks).length.toLong)
  }

  /**
   * THE pair ranking of every learner: weight descending, then left,
   * then right symbol in CODE-POINT order, which is UTF-8 byte order —
   * the order of Spark SQL's binary string compare and of DuckDB.
   * `String.compareTo` compares UTF-16 code units instead and disagrees
   * on ties between a U+E000–U+FFFF symbol and an astral one (whose
   * leading surrogate sorts below U+E000). Allocation-free: the heap of
   * [[learnMergesFast]] calls it millions of times.
   */
  private[operators] object PairRank extends Ordering[((String, String), Long)] {
    def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
      val c = java.lang.Long.compare(y._2, x._2)
      if (c != 0) c
      else {
        val l = compareCodePoints(x._1._1, y._1._1)
        if (l != 0) l else compareCodePoints(x._1._2, y._1._2)
      }
    }
  }

  /** Code-point order of two strings without decoding them: only the
    * first differing UTF-16 unit matters, and there a surrogate (part of
    * an astral code point) must rank above U+E000–U+FFFF, so both ranges
    * are rotated before the compare. */
  private[operators] def compareCodePoints(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x.charAt(i) == y.charAt(i)) i += 1
    if (i == n) Integer.compare(x.length, y.length)
    else Integer.compare(codeUnitRank(x.charAt(i)), codeUnitRank(y.charAt(i)))
  }

  private def codeUnitRank(c: Char): Int =
    if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c.toInt

  /** Merge one adjacent pair everywhere, leftmost-first non-overlapping —
    * the single-rank slice of [[applyMerges]]'s loop, used per learning
    * round. */
  private def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += a + b; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /**
   * LEARN a merge table from a corpus — BPE vocabulary induction
   * (Sennrich et al. 2016 §3.2): start from character symbols, take the
   * highest-weighted adjacent symbol pair, merge it everywhere, repeat
   * `nMerges` times. Ties break to the smallest (left, right) in
   * [[PairRank]]'s code-point order — pinned, so learning is fully
   * deterministic.
   * Delegates to [[learnMergesBatched]] at batch size 1, which reproduces
   * this round-per-merge semantic exactly.
   */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): Seq[(String, String)] =
    learnMergesBatched(docs, textCol, nMerges, batchSize = 1)

  /**
   * BATCHED BPE vocabulary induction — SAME output as the sequential
   * Sennrich loop, proven per batch, at merges/batchSize + O(1)
   * distributed rounds instead of one round PER MERGE (a real 32k-merge
   * tokenizer is 32k sequential Spark jobs = driver-bound hours no
   * cluster size reduces; batching is what makes the operator reach its
   * real workload).
   *
   * WHY THE BATCH IS EXACT (not a heuristic): per round, rank all pairs
   * by (weight desc, left asc, right asc) and take candidates from the
   * TOP of that list in order, accepting while each candidate's symbols
   * {a, b, a+b} are disjoint from every previously accepted candidate's
   * symbols, STOPPING at the first overlap (so the accepted set is a
   * consecutive PREFIX of the ranking). Let cNext be the weight of the
   * first non-accepted pair; truncate the accepted prefix to pairs with
   * weight STRICTLY greater than cNext (if that empties it, keep just
   * the top pair — a batch of one is trivially sequential). Then the
   * batch replays the sequential rounds exactly:
   *  - an accepted pair's weight is UNCHANGED by the earlier accepted
   *    merges (its adjacencies share no symbol with them);
   *  - every pair CREATED by an accepted merge (x, a+b) maps each of its
   *    instances to a pre-existing (x, a) adjacency instance, so its
   *    weight is bounded by an OVERLAPPING pair's old weight — and every
   *    overlapping pair ranks below the accepted prefix, i.e. <= cNext;
   *  - every other pair's weight can only stay or decrease, and all of
   *    them rank <= cNext < every accepted weight.
   *  So at sequential round i the unique argmax is exactly the i-th
   *  accepted pair. Gated: BpeSpec property-tests batched == the
   *  driver-local reference at batch sizes {1, 2, 4, 8} on random
   *  corpora, and q217 gates batched(8) == sequential in-query.
   *
   * SCALE SHAPE: the learning state is a persisted RDD of DISTINCT
   * words (segmentation, corpus weight) — vocab-bounded and Zipf-tiny
   * relative to the corpus, which one DataFrame aggregation scans exactly
   * ONCE to build it. Each round is exactly ONE Spark job: adjacent pairs
   * → `reduceByKey` → a (batchSize+1)-element `takeOrdered` by
   * [[PairRank]], with no Catalyst planning in the loop. The round's
   * narrow re-segmentation map is persisted lazily and fused into the
   * NEXT round's job, which materializes it; the state it came from is
   * released right after that job, and the last round's re-segmentation
   * is never built. Every 8 rounds the new state is marked for a lazy
   * `localCheckpoint`, which the next job performs, so lineage stays
   * bounded (the connected-components loop's discipline). Nothing
   * corpus-sized ever reaches the driver.
   */
  def learnMergesBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batchSize: Int): Seq[(String, String)] =
    learnMergesBatchedWithRounds(docs, textCol, nMerges, batchSize)._1

  /** [[learnMergesBatched]] plus per-round accepted-batch sizes (rounds =
    * `_2.length`) — the `Stress bpe` study's measurement: merges/rounds is
    * the effective batch rate, and its GROWTH across rounds is the real
    * signal (early rounds over a small symbol alphabet are overlap-heavy
    * and collapse toward 1; the rate climbs as merges diversify the
    * inventory — a 32k-merge run spends almost all its rounds in the
    * diversified regime). */
  private[graft] def learnMergesBatchedWithRounds(docs: DataFrame, textCol: String,
      nMerges: Int, batchSize: Int): (Seq[(String, String)], Seq[Int]) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = docs.sparkSession
    import spark.implicits._
    var state: RDD[(Array[String], Long)] = docs.where(col(textCol).isNotNull)
      .select(explode(graft.functions.Text.edgeStrippedTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].rdd
      .map { case (w, n) => (codepointSymbols(w), n) }
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // the state `state` was mapped from: cached until this round's job
    // has materialized `state`, then released
    var parent: RDD[(Array[String], Long)] = null
    val merges = Seq.newBuilder[(String, String)]
    val roundSizes = Seq.newBuilder[Int]
    var total = 0
    var round = 0
    var exhausted = false
    try {
      while (total < nMerges && !exhausted) {
        val top = state.flatMap { case (syms, n) =>
          (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), n))
        }.reduceByKey(_ + _).takeOrdered(batchSize + 1)(PairRank)
        if (parent != null) { parent.unpersist(): Unit; parent = null }
        if (top.isEmpty) exhausted = true
        else {
          // maximal disjoint PREFIX of the ranking (stop at first overlap)
          val accepted = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long)]
          val used = scala.collection.mutable.Set.empty[String]
          var i = 0
          var stopped = false
          while (i < top.length && accepted.size < batchSize && !stopped) {
            val ((a, b), _) = top(i)
            if (used(a) || used(b) || used(a + b)) stopped = true
            else {
              accepted += top(i)
              used += a; used += b; used += (a + b)
              i += 1
            }
          }
          // strict-dominance truncation against the first non-accepted pair
          val safe =
            if (i >= top.length) accepted.toSeq // no other pair exists at all
            else {
              val cNext = top(i)._2
              val t = accepted.toSeq.takeWhile(_._2 > cNext)
              if (t.isEmpty) accepted.toSeq.take(1) else t
            }
          val batch = safe.take(nMerges - total).map(_._1)
          merges ++= batch
          roundSizes += batch.size
          total += batch.size
          if (total < nMerges) {
            parent = state
            state = state.map { case (syms, n) =>
              (batch.foldLeft(syms)((s, p) => mergePair(s, p._1, p._2)), n)
            }.persist(StorageLevel.MEMORY_AND_DISK_SER)
            if ((round + 1) % 8 == 0) state.localCheckpoint(): Unit
          }
        }
        round += 1
      }
    } finally {
      state.unpersist(): Unit
      if (parent != null) parent.unpersist(): Unit
    }
    (merges.result(), roundSizes.result())
  }

  /**
   * PRODUCTION-PATH BPE induction: one distributed word-count
   * aggregation, then the INCREMENTAL driver-local learner — the design
   * every real tokenizer trainer uses (fastBPE, SentencePiece,
   * HuggingFace tokenizers): BPE learning state is a pure function of
   * the DISTINCT-WORD frequency table, which is Heaps-bounded (sublinear
   * in corpus mass — ~10^7 rows at web scale after the standard
   * `minCount` floor), so after ONE map-side-combined aggregation the
   * whole merge loop runs at driver memory speed with zero further
   * cluster rounds. A 32k-merge vocabulary — 32k sequential Spark jobs
   * under [[learnMerges]], ~10k rounds even under the exact batching of
   * [[learnMergesBatched]] — finishes in seconds (measured in
   * `Stress bpefast`).
   *
   * Semantics: at `minCount = 1` the learned sequence is IDENTICAL to
   * [[learnMerges]] (gated in BpeSpec and in-query by q222). `minCount >
   * 1` drops words rarer than the floor BEFORE learning — the standard
   * vocabulary floor real trainers apply, documented as a semantic
   * knob, not an approximation of the unfloored sequence. `maxVocab`
   * bounds the driver collect (`limit(maxVocab + 1)` BEFORE collect —
   * the guarded-collect convention of `Similarity.topK`) and fails fast
   * with the floor to raise rather than OOMing the driver.
   */
  def learnMergesCollected(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L, maxVocab: Int = 4000000): Seq[(String, String)] =
    learnMergesFast(
      WordFrames.collectWordCounts(docs, textCol, minCount, maxVocab).toMap, nMerges)

  /** The merge table as a store-able frame `(rank, left_sym, right_sym)`
    * — a trained tokenizer is a STANDING ARTIFACT shared across jobs
    * (the `Sink.writeIndex` discipline of the ANN codebooks), not
    * something retrained per run. */
  def mergesFrame(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "left_sym", "right_sym")
  }

  /** Load a [[mergesFrame]] back, rank order restored; `maxEntries`
    * guards the collect (vocabulary-sized by contract). */
  def mergesFromFrame(df: DataFrame, maxEntries: Int = 1 << 20): Seq[(String, String)] = {
    val rows = df.orderBy(col("rank").asc).limit(maxEntries + 1).collect()
    require(rows.length <= maxEntries,
      s"merge table exceeds maxEntries=$maxEntries — not a vocabulary-sized frame")
    rows.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /**
   * Incremental driver-local learner — same induction rule and
   * tie-break as [[learnMergesLocal]] (property-gated equivalent in
   * BpeSpec), but O(affected symbol mass) per merge instead of a full
   * vocabulary re-count per round: pair weights live in a hash map
   * updated only for words the merge touches, the argmax comes from a
   * lazy-deletion priority queue (an entry is valid iff its recorded
   * weight equals the pair's CURRENT weight; every weight change pushes
   * a fresh entry), and each affected word re-segments once. This is
   * the fastBPE update structure, re-derived from the public algorithm
   * description.
   */
  def learnMergesFast(vocab: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val words = mutable.ArrayBuffer.empty[Array[String]]
    val weights = mutable.ArrayBuffer.empty[Long]
    vocab.foreach { case (w, n) => words += codepointSymbols(w); weights += n }
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair -> word indices that contained it when last registered; may go
    // stale after re-segmentation (lazy — verified against the live word
    // at merge time, like the heap's weight validation)
    val homes = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def shift(wi: Int, sign: Long, touched: mutable.Set[(String, String)]): Unit = {
      val s = words(wi); val n = weights(wi) * sign
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = counts.getOrElse(p, 0L) + n
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0L) homes.getOrElseUpdate(p, mutable.Set.empty) += wi
        touched += p
        i += 1
      }
    }
    val seed = mutable.Set.empty[(String, String)]
    var wi = 0
    while (wi < words.length) { shift(wi, 1L, seed); wi += 1 }
    // PriorityQueue dequeues its maximum: reversed, that is PairRank's best
    val heap = mutable.PriorityQueue.empty[((String, String), Long)](PairRank.reverse)
    seed.foreach(p => counts.get(p).foreach(c => heap.enqueue((p, c))))
    val out = Seq.newBuilder[(String, String)]
    var made = 0
    var exhausted = false
    while (made < nMerges && !exhausted) {
      var chosen: (String, String) = null
      while (chosen == null && heap.nonEmpty) {
        val (p, c) = heap.dequeue()
        if (counts.getOrElse(p, 0L) == c) chosen = p
      }
      if (chosen == null) exhausted = true
      else {
        out += chosen
        made += 1
        val (a, b) = chosen
        val touched = mutable.Set.empty[(String, String)]
        homes.remove(chosen).foreach(_.foreach { w =>
          val s = words(w)
          var has = false
          var i = 0
          while (i < s.length - 1 && !has) { if (s(i) == a && s(i + 1) == b) has = true; i += 1 }
          if (has) {
            shift(w, -1L, touched)
            words(w) = mergePair(s, a, b)
            shift(w, 1L, touched)
          }
        })
        touched -= chosen
        counts.remove(chosen): Unit
        touched.foreach(p => counts.get(p).foreach(c => heap.enqueue((p, c))))
      }
    }
    out.result()
  }

  /**
   * Driver-local reference learner over an explicit word->weight vocab —
   * an INDEPENDENT implementation (collections fold, no Spark) of the
   * same induction rule, for spec equivalence checks and q187's in-query
   * distributed ≡ reference gate.
   */
  def learnMergesLocal(vocab: Map[String, Long], nMerges: Int): Seq[(String, String)] = {
    var state: Seq[(Vector[String], Long)] =
      vocab.toSeq.map { case (w, n) => (codepointSymbols(w).toVector, n) }
    val out = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = state.flatMap { case (syms, n) =>
        syms.iterator.zip(syms.iterator.drop(1)).map(p => (p, n)).toSeq
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      if (counts.isEmpty) done = true
      else {
        val ((a, b), _) = counts.min(PairRank)
        out += ((a, b))
        state = state.map { case (syms, n) =>
          (mergePair(syms.toArray, a, b).toVector, n)
        }
      }
      round += 1
    }
    out.result()
  }
}
