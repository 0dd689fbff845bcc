package graft

import graft.operators.UnigramLm

/** Unigram-LM tokenizer laws: Viterbi optimality against brute-force
  * enumeration (cost AND tie-break), coverage totality, EM census
  * discipline, and the vocab-path apply equivalence. */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  /** All segmentations of `w` into pieces of ≤ maxLen cps. */
  private def allSegs(w: String, maxLen: Int): Seq[List[String]] =
    if (w.isEmpty) Seq(Nil)
    else (1 to math.min(maxLen, w.length)).flatMap { l =>
      allSegs(w.drop(l), maxLen).map(w.take(l) :: _)
    }

  private def segCost(seg: List[String],
                      cost: Map[String, Long]): Option[Long] =
    seg.foldLeft(Option(0L)) { (acc, p) =>
      acc.flatMap { a =>
        cost.get(p).map(a + _)
          .orElse(if (p.length == 1) Some(a + UnigramLm.UnkCost) else None)
      }
    }

  test("viterbi law: minimal cost and deterministic tie-break vs brute-force enumeration") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abc"
    for (trial <- 1 to 200) {
      // random cost table over random pieces of length 1..3 (singles
      // only partially covered — exercises the UNK fallback)
      val pieces = (for {
        l <- 1 to 3
        _ <- 1 to 4
      } yield (1 to l).map(_ => alphabet(rnd.nextInt(3))).mkString).distinct
      val cost = pieces.map(p => p -> (rnd.nextInt(5000) + 1).toLong).toMap
      val w = (1 to (rnd.nextInt(7) + 1))
        .map(_ => alphabet(rnd.nextInt(3))).mkString
      val (got, seg) = UnigramLm.viterbi(w, cost, maxPieceLen = 3)
      assert(seg.mkString === w, s"trial $trial: pieces must respell the word")
      assert(segCost(seg, cost) === Some(got),
        s"trial $trial: reported cost must price its own segmentation")
      // brute force: min cost over ALL segmentations
      val scored = allSegs(w, 3)
        .flatMap(s => segCost(s, cost).map(c => (c, s)))
      val bestCost = scored.map(_._1).min
      assert(got === bestCost, s"trial $trial: $w not minimal")
      // tie-break law: among minimal-cost segmentations, viterbi picks
      // the one whose LAST piece is longest, recursively (smallest
      // previ at every backtrack step) — equivalently the max by the
      // reversed piece-length sequence
      val tied = scored.filter(_._1 == bestCost).map(_._2)
      val want = tied.maxBy(s => s.reverse.map(_.length))(
        Ordering.Implicits.seqOrdering[List, Int])
      assert(seg === want, s"trial $trial: tie-break diverged on $w")
    }
  }

  test("coverage: any word segments totally; unknown single cps cost UnkCost") {
    val cost = Map("ab" -> 100L, "a" -> 300L, "b" -> 300L)
    val (c, seg) = UnigramLm.viterbi("abz", cost, 4)
    assert(seg === List("ab", "z"))
    assert(c === 100L + UnigramLm.UnkCost)
    // empty word: zero pieces, zero cost
    assert(UnigramLm.viterbi("", cost, 4) === ((0L, Nil)))
  }

  test("train: single-cp pieces never drop, multi-cp pieces need a Viterbi win; deterministic across runs") {
    val docs = Seq(
      (1L, "aaab aaab aaab cd"),
      (2L, "aaab cd cd xy"),
      (3L, "aaab aaab xy")).toDF("doc_id", "text")
    val toks = graft.operators.TextStats.tokenized(docs, "doc_id", "text")
    val t1 = UnigramLm.train(toks).collect()
    val t2 = UnigramLm.train(toks).collect()
    assert(t1.toSeq === t2.toSeq, "training must be deterministic")
    val pieces = t1.map(_.getString(1)).toSet
    // every single cp of the corpus survives
    assert(Set("a", "b", "c", "d", "x", "y").subsetOf(pieces))
    // the dominant whole word is learned as one piece
    assert(pieces.contains("aaab"))
    // ranks are contiguous from 1 and ordered by (cnt desc, piece asc)
    val ranked = t1.sortBy(_.getLong(0))
    assert(ranked.map(_.getLong(0)).toSeq === (1L to t1.length).toSeq)
    val key = ranked.map(r => (-r.getLong(2), r.getString(1))).toSeq
    assert(key === key.sorted)
  }

  test("segmentStats ≡ driver viterbi per word (vocab-path law), long-word tail rule") {
    val docs = Seq(
      (1L, "hello hello world"),
      (2L, "world aaaaaaaaaaaaaaaa")).toDF("doc_id", "text") // 16 a's
    val toks = graft.operators.TextStats.tokenized(docs, "doc_id", "text")
    val trained = UnigramLm.train(toks)
    val cost = UnigramLm.costMap(trained)
    val got = UnigramLm.segmentStats(toks, cost)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    def np(w: String): Long = {
      val (h, t) = w.splitAt(12)
      UnigramLm.viterbi(h, cost, 4)._2.size.toLong + t.length
    }
    assert(got(1L) === ((3L, np("hello") * 2 + np("world"))))
    // 16-cp word: 12-cp head by DP + 4 single-cp tail pieces
    assert(got(2L) === ((2L, np("world") + np("a" * 16))))
    assert(np("a" * 16) === UnigramLm.viterbi("a" * 12, cost, 4)._2.size + 4L)
  }

  test("snapMillinat: boundary-exact values fail loud, grid interior snaps") {
    // interior: ln disagreement between engines is sub-ulp, absorbed
    assert(UnigramLm.snapMillinat(1.0) === 0L)       // floor(0 + 0.5) = 0
    assert(UnigramLm.snapMillinat(math.E) === 1000L)
    assert(UnigramLm.snapMillinat(2.0) === 693L)
    // boundary: 1000·ln(x) lands within 1e-9 of frac 0.5, where a
    // sub-ulp ln() difference flips the floor — must abort, not emit
    // an engine-dependent value (the q336/q340 replayability guard)
    val boundary = math.exp(0.0005) // 1000·ln(x) ≈ 0.5 exactly
    val e = intercept[IllegalArgumentException] {
      UnigramLm.snapMillinat(boundary)
    }
    assert(e.getMessage.contains("millinat grid boundary"))
  }
}
