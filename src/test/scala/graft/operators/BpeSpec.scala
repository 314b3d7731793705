package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/**
 * Golden-string pins for the merges-table BPE kernel: hand-replayed
 * applications of the public BPE apply rule (lowest-rank adjacent pair,
 * merge-all leftmost non-overlapping, iterate) on the fixture table —
 * the unit-level complement of q167's recursive-CTE oracle gate.
 */
class BpeSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val ranks = Bpe.fixtureMerges.zipWithIndex.toMap

  private def enc(w: String): Seq[String] = Bpe.applyMerges(w, ranks)

  test("golden strings replay the merge table by hand") {
    // t+h first (rank 0), then th+e (rank 1): ther -> th,e,r -> the,r
    assert(enc("ther") == Vector("the", "r"))
    // hierarchical: a+n (3) then an+d (4)
    assert(enc("and") == Vector("and"))
    // i+n (2) then in+g (13)
    assert(enc("ing") == Vector("ing"))
    // multi-level inside a longer word: i,n,t,e,r,e,s,t,i,n,g
    //  -> in t e r e s t in g (i+n) -> in t er e s t in g (e+r)
    //  -> in t er e st in g (s+t)   -> in t er e st ing (in+g)
    assert(enc("interesting") == Vector("in", "t", "er", "e", "st", "ing"))
    // no applicable merges
    assert(enc("xyz") == Vector("x", "y", "z"))
    assert(enc("a") == Vector("a"))
    assert(enc("") == Vector())
  }

  test("merge-all is leftmost-first non-overlapping") {
    // t h t h t h: all three (t,h) pairs merge in ONE application
    assert(enc("ththth") == Vector("th", "th", "th"))
    // after th-merging, th+e applies to both halves
    assert(enc("thethe") == Vector("the", "the"))
    // overlapping run: e,e,s,t -> e,e,st ; (e,s) no longer adjacent
    assert(enc("eest") == Vector("e", "e", "st"))
  }

  test("rank order decides when pairs compete") {
    // "ath": (a,t) rank 10 vs (t,h) rank 0 -> t,h merges first, leaving
    // a+th (not a merge); greedy-by-rank != left-to-right
    assert(enc("ath") == Vector("a", "th"))
    // "est": (e,s) rank 11 vs (s,t) rank 8 -> st first
    assert(enc("est") == Vector("e", "st"))
  }

  test("tokenCounts memoizes by vocabulary and sums per document") {
    val docs = Seq(
      (1L, "the the and"),     // the=1 token x2, and=1 -> 3
      (2L, "interesting xyz"), // 6 + 3 -> 9
      (3L, "   "),             // no tokens: dropped
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Bpe.tokenCounts(docs, "doc_id", "text", Bpe.fixtureMerges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 9L))
  }

  test("tokenCounts is partitioning-invariant") {
    val docs = (0L until 40L).map(i => (i, s"the quick$i and interesting word$i"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Bpe.tokenCounts(df, "doc_id", "text", Bpe.fixtureMerges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(docs) == run(docs.repartition(7)))
  }

  // --- merge LEARNING (vocabulary induction) ---

  test("learnMerges replays the hand-computed q187 sequence") {
    // hand derivation (each word weight 1): l-o, o-w, w-e all count 5 ->
    // lexicographic tie-break picks (l,o); then (lo,w) at 5; e-s/s-t at 4
    // -> (e,s) then (es,t); the 3-count band resolves (e,r) < (e,w) <
    // (i,d) < (n,ew) < (w,id); finally (low,est) at 2
    val sentence = "low lower lowest new newer newest wide wider widest slow slowest"
    val docs = (0L until 7L).map(i => (i, sentence)).toDF("id", "text")
    val got = Bpe.learnMerges(docs, "text", 10)
    assert(got == Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"),
      ("e", "r"), ("e", "w"), ("i", "d"), ("n", "ew"), ("w", "id"), ("low", "est")))
    // the local reference derives the same sequence from the bare vocab
    val vocab = sentence.split(" ").map(w => w -> 1L).toMap
    assert(Bpe.learnMergesLocal(vocab, 10) == got)
  }

  test("distributed and local learners agree on a weighted random corpus") {
    val rnd = new scala.util.Random(7)
    val words = Seq("than", "that", "then", "this", "thing", "other", "another",
      "rather", "bathing", "north", "forth", "worth")
    val docs = (0L until 200L).map { i =>
      (i, (0 until 1 + rnd.nextInt(6)).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("id", "text")
    val learned = Bpe.learnMerges(docs, "text", 12)
    val vocab = docs.collect().flatMap(_.getString(1).split(" "))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(learned == Bpe.learnMergesLocal(vocab, 12))
    assert(learned.size == 12)
    // learned merges APPLY: total corpus tokens must shrink vs characters
    val ranks = learned.zipWithIndex.toMap
    val shrunk = vocab.keys.forall(w => Bpe.applyMerges(w, ranks).length <= w.length)
    assert(shrunk)
  }

  test("batched learning equals the sequential reference at every batch size (random corpora)") {
    // the batch construction is EXACT, not heuristic (see learnMergesBatched's
    // proof sketch): for any corpus and any batch size the learned sequence
    // must equal the one-merge-per-round reference — including tie-heavy and
    // overlap-heavy corpora where the safe prefix collapses to one merge
    val wordsets = Seq(
      Seq("than", "that", "then", "this", "thing", "other", "another",
        "rather", "bathing", "north", "forth", "worth"),
      Seq("aaaa", "aaab", "abab", "baba", "bbbb", "abba"), // overlap-heavy
      Seq("low", "lower", "lowest", "new", "newer", "newest", "wide", "wider"))
    for ((words, seed) <- wordsets.zipWithIndex) {
      val rnd = new scala.util.Random(11 + seed)
      val docs = (0L until 120L).map { i =>
        (i, (0 until 1 + rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
      }.toDF("id", "text")
      val vocab = docs.collect().flatMap(_.getString(1).split(" "))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val ref = Bpe.learnMergesLocal(vocab, 16)
      for (m <- Seq(1, 2, 4, 8)) {
        val got = Bpe.learnMergesBatched(docs, "text", 16, batchSize = m)
        assert(got == ref, s"corpus $seed batchSize $m: $got != $ref")
      }
    }
  }

  test("learning stops when every word is a single symbol") {
    val docs = Seq((1L, "ab ab cd")).toDF("id", "text")
    // only 2 possible merges exist ((a,b) then (c,d)); asking for 10 stops at 2
    val got = Bpe.learnMerges(docs, "text", 10)
    assert(got == Seq(("a", "b"), ("c", "d")))
  }

  test("batched learning fires one Spark job per round and leaves no cached state behind") {
    // the distinct-word state is an RDD persisted per round: a round's job
    // materializes the previous round's re-segmentation (no separate
    // count), so the whole call costs the word-count aggregation plus ONE
    // job per round; 16 rounds cross two lazy localCheckpoints
    val sc = spark.sparkContext
    val sentence = "low lower lowest new newer newest wide wider widest slow slowest"
    val docs = (0L until 7L).map(i => (i, sentence)).toDF("id", "text")
    val cachedBefore = sc.getPersistentRDDs.keySet
    val ((merges, sizes), jobs) =
      countingJobs(Bpe.learnMergesBatchedWithRounds(docs, "text", 16, batchSize = 1))
    assert(merges == Bpe.learnMergesLocal(sentence.split(" ").map(_ -> 1L).toMap, 16))
    assert(sizes.length == 16)
    assert(jobs <= sizes.length + 3, s"$jobs jobs for ${sizes.length} rounds")
    assert(sc.getPersistentRDDs.keySet == cachedBefore)
  }

  test("every learner breaks weight ties in code-point (UTF-8 byte) order") {
    // (fullwidth A, b) and (mathematical bold A, b) tie at weight 1: U+FF21
    // ranks below U+1D400 by code point, UTF-8 bytes and Spark SQL's string
    // order, but above it by UTF-16 code unit (String.compareTo sees the
    // leading surrogate U+D835)
    val (fullA, boldA) = ("\uFF21", "\uD835\uDC00")
    val docs = Seq((1L, s"${fullA}b ${boldA}b")).toDF("id", "text")
    val vocab = Map(s"${fullA}b" -> 1L, s"${boldA}b" -> 1L)
    val want = Seq((fullA, "b"), (boldA, "b"))
    assert(Bpe.learnMerges(docs, "text", 4) == want)
    assert(Bpe.learnMergesBatched(docs, "text", 4, batchSize = 4) == want)
    assert(Bpe.learnMergesLocal(vocab, 4) == want)
    assert(Bpe.learnMergesFast(vocab, 4) == want)
    assert(Bpe.learnMergesCollected(docs, "text", 4) == want)
    // the comparator itself against unsigned UTF-8 byte order, on strings
    // mixing ASCII, Latin-1, U+E000-U+FFFF and astral code points
    val alphabet = Seq("a", "z", "\u00E9", "\uE000", fullA, "\uFFFF", boldA, "\uD83D\uDE00")
    val rnd = new scala.util.Random(5)
    def word() = (0 until rnd.nextInt(4)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 2000) {
      val (x, y) = (word(), word())
      val bytes = java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(Integer.signum(Bpe.compareCodePoints(x, y)) == Integer.signum(bytes), s"$x vs $y")
    }
  }

  // --- incremental (fastBPE-structure) learner + collect-once path ---

  test("incremental learner equals the naive reference to exhaustion (random weighted vocabs)") {
    // learnMergesFast's lazy-heap + touched-words update must reproduce the
    // full-recount reference EXACTLY, all the way to vocabulary exhaustion,
    // on tie-heavy, overlap-heavy, and weighted vocabularies
    val alphabets = Seq("ab", "abc", "lowenst")
    for ((alpha, seed) <- alphabets.zipWithIndex; trial <- 0 until 3) {
      val rnd = new scala.util.Random(31 * seed + trial)
      val vocab = (0 until 40).map { _ =>
        val w = (0 until 2 + rnd.nextInt(7)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        w -> (1L + rnd.nextInt(9).toLong)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ref = Bpe.learnMergesLocal(vocab, 10000)
      val fast = Bpe.learnMergesFast(vocab, 10000)
      assert(fast == ref, s"alpha=$alpha trial=$trial: diverged at index " +
        s"${fast.zip(ref).indexWhere(p => p._1 != p._2)}")
      // exhaustion means both stopped short of the absurd budget
      assert(ref.size < 10000)
    }
  }

  test("incremental learner replays the q187 pinned sequence") {
    val sentence = "low lower lowest new newer newest wide wider widest slow slowest"
    val vocab = sentence.split(" ").map(w => w -> 1L).toMap
    assert(Bpe.learnMergesFast(vocab, 10) == Seq(("l", "o"), ("lo", "w"),
      ("e", "s"), ("es", "t"), ("e", "r"), ("e", "w"), ("i", "d"),
      ("n", "ew"), ("w", "id"), ("low", "est")))
  }

  test("collect-once path equals the distributed learner at minCount=1") {
    val rnd = new scala.util.Random(43)
    val words = Seq("than", "that", "then", "this", "thing", "other",
      "rather", "bathing", "north", "worth")
    val docs = (0L until 150L).map { i =>
      (i, (0 until 1 + rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("id", "text")
    assert(Bpe.learnMergesCollected(docs, "text", 14) ==
      Bpe.learnMerges(docs, "text", 14))
  }

  test("minCount floors the vocabulary before learning; maxVocab guards the collect") {
    val docs = Seq((1L, "zz zz zz zz rare"), (2L, "zz zz aa aa")).toDF("id", "text")
    // floor of 2 drops 'rare' (count 1); the remaining vocab is zz=6, aa=2
    val floored = Bpe.learnMergesCollected(docs, "text", 4, minCount = 2L)
    assert(floored == Bpe.learnMergesLocal(Map("zz" -> 6L, "aa" -> 2L), 4))
    val ex = intercept[IllegalArgumentException] {
      Bpe.learnMergesCollected(docs, "text", 4, maxVocab = 2)
    }
    assert(ex.getMessage.contains("maxVocab"))
  }

  test("merge tables round-trip through the store frame, rank order kept") {
    val merges = Bpe.fixtureMerges
    val frame = Bpe.mergesFrame(spark, merges).repartition(3) // order must not matter
    assert(Bpe.mergesFromFrame(frame) == merges)
    val ex = intercept[IllegalArgumentException] {
      Bpe.mergesFromFrame(Bpe.mergesFrame(spark, merges), maxEntries = 3)
    }
    assert(ex.getMessage.contains("maxEntries"))
  }

  test("weights steer learning: frequent pair wins over lexicographic order") {
    // 'zz' appears 3x per doc, 'aa' once - (z,z) must be learned first
    // despite (a,a) sorting earlier
    val docs = (0L until 5L).map(i => (i, "zz zz zz aa")).toDF("id", "text")
    val got = Bpe.learnMerges(docs, "text", 1)
    assert(got == Seq(("z", "z")))
  }
}
