package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Near-dup operator invariants, including the pigeonhole-recall
  * property that justifies the bucketed candidate generation at scale.
  */
class DedupSpec extends SparkSpec {

  private def docsDf(docs: Seq[(Long, String)]) = {
    val sess = spark
    import sess.implicits._
    docs.toDF("doc_id", "text")
  }

  test("shingles: distinct word 3-grams, short docs dropped") {
    val sh = Dedup.shingles(docsDf(Seq(
        1L -> "a b c d",
        2L -> "a b"))) // too short
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSet === Set((1L, "a b c"), (1L, "b c d")))
  }

  test("minhash: identical texts share all 16 signature components") {
    val sigs = Dedup.minhashSignatures(Dedup.shingles(docsDf(Seq(
        1L -> "w1 w2 w3 w4 w5",
        2L -> "w1 w2 w3 w4 w5",
        3L -> "z1 z2 z3 z4 z5"))))
      .collect().map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i))).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
    // 60-bit positive domain: xor with any seed stays a positive long
    sigs.values.flatten.foreach(v => assert(v >= 0L && v < (1L << 60)))
  }

  test("simhash: identical word multisets collide, disjoint vocab differs") {
    val sh = Dedup.simhash(docsDf(Seq(
        1L -> "alpha beta gamma delta",
        2L -> "delta gamma beta alpha", // same multiset, different order
        3L -> "zeta eta theta iota kappa lambda mu nu xi")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("bloom dedup: zero false negatives on the identical half") {
    val out = graft.SparkEntry.queries("ll20_bloom_dedup")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    // B ids 10000+x with x even are byte-identical to corpus A docs:
    // a Bloom filter may false-positive but NEVER false-negative
    val misses = out.filter { case (id, dup) => (id - 10000) % 2 == 0 && !dup }
    assert(misses.isEmpty, s"bloom false negatives: ${misses.keys.take(5)}")
    assert(out.exists { case (id, dup) => (id - 10000) % 2 == 1 && !dup },
      "perturbed half should contain non-members")
  }

  test("prefix-filtered Jaccard == naive inverted-index Jaccard on a skewed corpus") {
    // df-skewed fixture: shared rare/frequent shingles + near-dup pairs
    val vocab = (1 to 40).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    val base = (1L to 25L).map(i =>
      i -> Seq.fill(12 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = base ++ base.map { case (i, t) => // near-dup copies (drop first word)
      (i + 100L) -> t.split(" ").drop(1).mkString(" ")
    }
    val sh = Dedup.shingles(docsDf(docs))
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = collectPairs(Dedup.jaccardFromShingles(sh))
    val filtered = collectPairs(Dedup.prefixFilteredJaccard(sh))
    assert(naive.nonEmpty, "fixture should contain J>=0.6 pairs")
    assert(filtered === naive, "prefix filtering must not change the result set")
  }

  test("adaptive Jaccard strategy: skewed → prefix-filtered, flat → inverted-index, " +
    "df-explosive → lsh-verified") {
    // skewed: 200 docs with mostly-unique shingles (web-corpus shape)
    val rnd = new scala.util.Random(11)
    val skewed = (1L to 200L).map(i =>
      i -> ((1 to 8).map(j => s"w${i}_$j") :+ "the common one").mkString(" "))
    assert(Dedup.jaccardStrategy(Dedup.shingles(docsDf(skewed))) === "prefix-filtered")
    // flat but UNDER the candidate budget: 100 docs over a 6-word
    // vocab (216 possible shingles, per-shingle df ~4) — prefixes
    // can't prune (rare share < 0.25) yet sum df^2 stays within 16
    // candidates per occurrence, so the exact inverted index runs
    val vocab6 = Vector("u1", "u2", "u3", "u4", "u5", "u6")
    val flat = (1L to 100L).map(i =>
      i -> Seq.fill(10)(vocab6(rnd.nextInt(vocab6.size))).mkString(" "))
    assert(Dedup.jaccardStrategy(Dedup.shingles(docsDf(flat))) === "inverted-index")
    // df-explosive: 200 docs over a 3-word vocab — 27 possible
    // shingles shared by every doc, per-shingle df ~60, so the
    // inverted index would shuffle ~60 candidate rows per occurrence:
    // over budget, route to LSH band candidates + exact verify
    val vocab3 = Vector("v1", "v2", "v3")
    val dense = (1L to 200L).map(i =>
      i -> Seq.fill(10)(vocab3(rnd.nextInt(vocab3.size))).mkString(" "))
    assert(Dedup.jaccardStrategy(Dedup.shingles(docsDf(dense))) === "lsh-verified")
  }

  test("ll6b's low-entropy corpus trips the Σdf² budget to lsh-verified") {
    // the green differential entry for the reroute arm is only as
    // strong as this pin: if a testdata regeneration changed the df
    // profile, ll6b would silently fall back to an exact branch and
    // stop covering the LSH arm — fail loudly here instead
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).exists())
    assert(Dedup.jaccardStrategy(Dedup.lowEntropyShingles(spark, dir))
      === "lsh-verified")
  }

  test("threshold threading: 500‰ prefix filtering matches the naive join, " +
    "and the sweep survives the budget regime through the shared pipeline") {
    // ll30 runs jaccardPairsOf at 500‰ — both exact branches must
    // agree at the lowered cut (the generalized prefix-length ceil),
    // and on a df-explosive corpus the SAME call must route to the
    // LSH arm and still emit only true J>=0.5 pairs (exact precision)
    // per-doc-unique words make J exactly computable: a doc of w
    // distinct words has 2w-1 shingles, its drop-k prefix copy shares
    // 2(w-k)-1 of them, so J = (2w-2k-1)/(2w-1); k = round(0.45w)
    // places every planted pair inside [0.5, 0.6) for w in 12..16,
    // and the drop-1 copies of the first five docs sit around 0.9
    val base = (1L to 25L).map { i =>
      val w = 12 + (i % 5).toInt
      i -> (1 to w).map(j => s"w${i}_$j").mkString(" ")
    }
    val docs = base.map { case (i, t) =>
      val w = t.split(" ").length
      (i + 100L) -> t.split(" ").drop(math.round(0.45 * w).toInt).mkString(" ")
    } ++ base.take(5).map { case (i, t) =>
      (i + 200L) -> t.split(" ").drop(1).mkString(" ")
    } ++ base
    val sh = Dedup.shingles(docsDf(docs))
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive500 = collectPairs(Dedup.jaccardFromShingles(sh, 500L))
    val filtered500 = collectPairs(Dedup.prefixFilteredJaccard(sh, 500L))
    val naive600 = collectPairs(Dedup.jaccardFromShingles(sh))
    assert(naive500.nonEmpty && (naive500 diff naive600).nonEmpty,
      "fixture should contain pairs between 0.5 and 0.6 so the cut matters")
    assert(filtered500 === naive500,
      "the generalized prefix length must preserve recall at the 500‰ cut")
    // budget regime: tiny vocab → lsh-verified; the sweep's entry
    // point must route there and keep exact precision at 500‰
    val rnd = new scala.util.Random(23)
    val vocab3 = Vector("v1", "v2", "v3")
    val dense = (1L to 40L).map(i =>
      i -> Seq.fill(14)(vocab3(rnd.nextInt(vocab3.size))).mkString(" "))
    val denseDocs = dense ++ dense.map { case (i, t) =>
      (i + 100L) -> t.split(" ").drop(1).mkString(" ")
    }
    val dsh = Dedup.shingles(docsDf(denseDocs))
    assert(Dedup.jaccardStrategy(dsh) === "lsh-verified")
    val swept = collectPairs(Dedup.jaccardPairsOf(dsh,
      Dedup.minhashSignatures(dsh), 500L))
    val denseNaive = collectPairs(Dedup.jaccardFromShingles(dsh, 500L))
    assert(swept.nonEmpty, "the budget arm should recover near-identical pairs")
    assert(swept.subsetOf(denseNaive),
      "sweep pairs through the LSH arm must all be true J>=0.5 pairs")
  }

  test("lsh-verified Jaccard: nonempty exact-precision subset of the naive result") {
    // near-dup pairs on a df-explosive corpus: identical copies (drop
    // one word) over a tiny vocab, the regime where the budget branch
    // engages. LSH candidates bound cost; the exact verify must keep
    // precision 1 (every emitted pair truly has J >= 0.6) while recall
    // is the LSH band probability (near-identical pairs collide in
    // some band with overwhelming probability).
    val rnd = new scala.util.Random(13)
    val vocab = Vector("v1", "v2", "v3")
    val base = (1L to 40L).map(i =>
      i -> Seq.fill(14)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val docs = base ++ base.map { case (i, t) =>
      (i + 100L) -> t.split(" ").drop(1).mkString(" ")
    }
    val sh = Dedup.shingles(docsDf(docs))
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_common").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = collectPairs(Dedup.jaccardFromShingles(sh))
    val lsh = collectPairs(
      Dedup.exactJaccardOfCandidates(
        Dedup.bandCandidates(Dedup.minhashSignatures(sh)), sh))
    assert(naive.nonEmpty, "fixture should contain J>=0.6 pairs")
    assert(lsh.nonEmpty, "LSH candidates should recover near-identical pairs")
    assert(lsh.subsetOf(naive),
      "exact verify must keep precision 1: every emitted pair is a true J>=0.6 pair")
  }

  test("pigeonhole recall: bucketed simhash candidates find every hamming<=3 pair") {
    // Deterministic pseudo-random corpus: 40 docs over a 12-word vocab
    // (heavy simhash clustering, like real near-dup corpora).
    val vocab = Vector("red", "green", "blue", "cyan", "teal", "pink",
      "gold", "gray", "jade", "plum", "rust", "sand")
    val rnd = new scala.util.Random(42)
    val base = (1L to 40L).map(i =>
      i -> Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    // near-dup copies (drop first word) guarantee hamming<=3 pairs
    // even at 64 fingerprint bits
    val docs = base ++ base.map { case (i, t) =>
      (i + 100L) -> t.split(" ").drop(1).mkString(" ")
    }
    val sh = Dedup.simhash(docsDf(docs))
      .collect().map(r => (r.getLong(0), (r.getLong(1) & 0xFFFFFFFFL) | (r.getLong(2) << 32)))
      .sortBy(_._1)

    // brute force over all pairs (64-bit hamming)
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet

    // bucketed (the ll5 production scheme): six blocks of
    // (11,11,10,11,11,10) bits; a candidate pair shares ALL THREE
    // blocks of at least one C(6,3) combo — hamming<=3 damages at
    // most 3 blocks, so >=3 stay intact and some combo survives
    def blocks(h: Long): IndexedSeq[Long] = {
      val lo = h & 0xFFFFFFFFL; val hi = h >>> 32
      IndexedSeq(lo & 0x7FF, (lo >>> 11) & 0x7FF, (lo >>> 22) & 0x3FF,
        hi & 0x7FF, (hi >>> 11) & 0x7FF, (hi >>> 22) & 0x3FF)
    }
    val combos = (0 until 6).combinations(3).toSeq
    val bucketed = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      ba = blocks(ha); bb = blocks(hb)
      if combos.exists(c => c.forall(i => ba(i) == bb(i)))
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet

    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(bucketed === brute, "hamming<=3 implies an intact 3-of-6 block combo (pigeonhole)")
  }

  test("recursive pigeonhole: oversized buckets keep exact hamming<=3 recall") {
    // 80 identical docs overload every (combo, ckey) bucket past the
    // (test-scaled) threshold — the escalated sub-bucket arm — plus
    // two near-dup variants; the pipeline must equal the brute-force
    // hamming pairs. Full-rate census so the branch fires
    // deterministically at fixture size.
    val base = "join hash row batch scan filter merge order data table"
    val docs = (1L to 80L).map(i => i -> base) ++
      Seq(200L -> base.split(" ").drop(1).mkString(" "),
        201L -> (base + " extra word"))
    val sh = Dedup.simhash(docsDf(docs))
    val got = Dedup.simhashPairsOf(sh, bigBucket = 8L, censusSampleRate = 1.0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fp = sh.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      if java.lang.Long.bitCount(fp(a)._1 ^ fp(b)._1) +
        java.lang.Long.bitCount(fp(a)._2 ^ fp(b)._2) <= 3
    } yield (a, b)).toSet
    assert(brute.size >= 80L * 79 / 2, "the identical block must fully pair")
    assert(got === brute,
      "sub-bucketing an oversized bucket must lose no hamming<=3 pair")
  }

  test("cluster resolution: pairs close transitively, one kept doc per cluster") {
    val sess = spark
    import sess.implicits._
    // chain 1-2-3, pair 5-6, singletons 4 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val docs = (1L to 7L).toDF("doc_id")
    val comp = Identity.connectedComponents(pairs).toDF("doc_id", "canon_id")
    val resolved = docs.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.coalesce(col("canon_id"), col("doc_id")).as("canon_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L),
      "canonical doc = min of the transitive cluster; singletons keep themselves")
  }

  test("duplicated spans: shared passages resolve to maximal merged intervals") {
    // 26-token shared passage p0..p25 between docs 1 and 2, at the END
    // of doc 1 and the START of doc 2; doc 3 is all-unique filler.
    val passage = (0 until 26).map(i => s"p$i").mkString(" ")
    val fill = (n: Int, tag: String) => (0 until n).map(i => s"$tag$i").mkString(" ")
    val out = Dedup.duplicatedSpans(docsDf(Seq(
        1L -> (fill(10, "a") + " " + passage),
        2L -> (passage + " " + fill(10, "b")),
        3L -> fill(40, "c"))), w = 15)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows"))).toSeq).toMap
    // only windows fully inside the passage repeat: 26 - 15 + 1 = 12 per doc,
    // merging to exactly the passage's token range on each side
    assert(out(1L) === Seq((10L, 35L, 12L)), "span covers the appended passage")
    assert(out(2L) === Seq((0L, 25L, 12L)), "span covers the prepended passage")
    assert(!out.contains(3L), "unique doc has no duplicated span")
  }

  test("duplicated spans: within-doc repetition counts toward the threshold") {
    // one doc repeating the same 15 tokens twice back-to-back: every
    // window inside either copy collides with its twin, and the two
    // copies merge into one contiguous span
    val run = (0 until 15).map(i => s"r$i").mkString(" ")
    val out = Dedup.duplicatedSpans(docsDf(Seq(
        1L -> (run + " " + run + " " + (0 until 12).map(i => s"u$i").mkString(" ")))),
        w = 15)
      .collect().map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
    assert(out.toSeq === Seq((0L, 29L)), "both copies of the run merge into one span")
  }

  test("CDC chunks are shift-robust: a front insertion preserves most chunk hashes") {
    // 120 pseudo-random words from a 20-word vocab; doc 2 = doc 1 with
    // one word prepended. Fixed-position chunking would change EVERY
    // chunk; content-defined boundaries resynchronize after the edit,
    // so the tail chunks keep their hashes.
    val rnd = new scala.util.Random(7)
    val words = Vector.fill(120)(s"w${rnd.nextInt(20)}")
    val occ = Dedup.cdcChunks(docsDf(Seq(
        1L -> words.mkString(" "),
        2L -> ("inserted " + words.mkString(" ")))))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val h1 = occ.filter(_._1 == 1L).map(_._2).toSet
    val h2 = occ.filter(_._1 == 2L).map(_._2).toSet
    val shared = (h1 & h2).size.toDouble / h1.size
    assert(shared >= 0.6, s"CDC must resynchronize after an edit; only $shared shared")
    assert(h1 != h2, "the edited region's chunks must differ")
  }

  test("ev3 scores the ll5 pipeline: accounting closes and recall is a rate") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    val r = graft.SparkEntry.queries("ev3_simhash_eval")(spark, sfDir).collect()
    assert(r.length === 1)
    val row = r.head
    val (truth, found, hit, recall, extra) = (
      row.getAs[Long]("n_truth"), row.getAs[Long]("n_found"),
      row.getAs[Long]("n_hit"), row.getAs[Double]("recall"),
      row.getAs[Long]("n_extra"))
    assert(truth === graft.Tables.documents(spark, sfDir).count())
    assert(found === hit + extra, "every found pair is a hit or an extra")
    assert(hit <= truth, "at most one planted twin per base doc")
    assert(recall >= 0.0 && recall <= 1.0)
    // the found set must be exactly the ll5 pipeline's output
    assert(found === graft.SparkEntry.queries("ll5_simhash_neardup")(spark, sfDir).count())
  }

  test("ll25 band tuning: the classic LSH trade holds and (4,4) matches production") {
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    val rows = graft.SparkEntry.queries("ll25_band_tuning")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(rows.keySet === Set((2L, 8L), (4L, 4L), (8L, 2L)))
    val ordered = Seq((2L, 8L), (4L, 4L), (8L, 2L)).map(rows)
    // more bands of fewer rows: candidates and recovered truth both
    // non-decreasing — the recall/cost trade the advisor quantifies
    ordered.sliding(2).foreach {
      case Seq((c1, h1, _, _), (c2, h2, _, _)) =>
        assert(c2 >= c1, "candidate volume must not shrink with more bands")
        assert(h2 >= h1, "recall must not shrink with more bands")
      case _ =>
    }
    rows.values.foreach { case (c, h, recall, hitRate) =>
      assert(h <= c && recall >= 0.0 && recall <= 1.0 && hitRate >= 0.0 && hitRate <= 1.0)
    }
    // the production 4x4 config's candidate count is exactly what the
    // ll2 pipeline's band join generates
    val prod = Dedup.bandCandidates(
      Dedup.signatureTable(spark, sfDir)).count()
    assert(rows((4L, 4L))._1 === prod)
  }

  test("band scheme follows the operating point: a J≈0.5 pair invisible to 4×4 " +
    "is caught by the 8×2 scheme the sub-600‰ sweep uses") {
    val sess = spark
    import sess.implicits._
    // two docs sharing exactly 8/16 signature components, arranged so
    // no 4-consecutive run is fully shared (every 4×4 band misses)
    // but positions (0,1), (4,5), (8,9), (12,13) pair up (8×2 hits) —
    // the structural recall gap the parameterization closes
    val shared = Set(0, 1, 4, 5, 8, 9, 12, 13)
    val a = (0 until 16).map(i => 100L + i)
    val b = (0 until 16).map(i => if (shared(i)) 100L + i else 900L + i)
    val sigs = Seq((1L, a), (2L, b))
      .map { case (id, s) => (id, s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7),
        s(8), s(9), s(10), s(11), s(12), s(13), s(14), s(15)) }
      .toDF("doc_id" +: (0 until 16).map(i => s"s$i"): _*)
    assert(Dedup.bandCandidates(sigs, 4).count() === 0L,
      "the 0.6-point scheme must miss this J≈0.5 pair (the documented bias)")
    assert(Dedup.bandCandidates(sigs, 8).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)),
      "the wide scheme must catch it")
  }

  test("ll33 semantics: overlapping 50-token matches fuse into ONE maximal cut, " +
    "and reassembly restores the un-planted text") {
    import org.apache.spark.sql.functions.{col, md5, lit}
    // a 60-token shared passage: occurrences are maximal duplicated
    // substrings LONGER than the 50-token window, so detection must
    // extend anchors in both directions (two overlapping 50-token
    // matches are one 60-token duplicate, the r15 verdict's case)
    val passage = (1 to 60).map(i => f"p$i%02d").mkString(" ")
    val headA = (1 to 12).map(i => f"a$i%02d").mkString(" ")
    val tailA = (1 to 12).map(i => f"z$i%02d").mkString(" ")
    // ids chosen OUTSIDE the query's own plant classes (%5==1 append,
    // %7==2 prepend, %11==3 mid-insert), so the fixture passage is the
    // only duplicate in this corpus
    val docs = Seq(
      4L -> s"$headA $passage $tailA", // mid-document occurrence
      13L -> s"${(1 to 9).map(i => f"b$i%02d").mkString(" ")} $passage") // tail occurrence
    val dir = java.nio.file.Files.createTempDirectory("graft-ll33").toString
    docsDf(docs).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("ll33_substring_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).sortBy(_._1)
    assert(out.length === 2, s"one maximal cut per doc, got ${out.toSeq}")
    // doc 4: passage occupies tokens 12..71 — a single fused span
    assert(out(0)._1 === 4L && out(0)._2 === 12L && out(0)._3 === 71L)
    assert(out(0)._4 === 1L && out(0)._5 === 60L)
    // doc 13: tokens 9..68
    assert(out(1)._1 === 13L && out(1)._2 === 9L && out(1)._3 === 68L)
    // reassembly: cutting the span restores exactly the un-planted text
    val sess = spark
    import sess.implicits._
    val expect1 = Seq(s"$headA $tailA").toDF("t")
      .select(md5(col("t"))).head.getString(0)
    assert(out(0)._6 === expect1,
      "mid-document cut must stitch head to tail byte-exactly")
  }

  test("ll33 reassembly at cut-heavy grain: 50 disjoint cuts per doc walk in one " +
    "O(tokens + cuts) fold (the boilerplate-laden crawl shape)") {
    import org.apache.spark.sql.functions.{col, md5}
    // 50 DISTINCT 50-token passages shared between two docs, each
    // followed by a one-token per-doc separator: every passage is a
    // maximal duplicated run, so each doc carries 50 separate cuts and
    // reassembly must keep exactly the 50 separators, in order
    val passages = (1 to 50).map(k => (1 to 50).map(i => f"p$k%02d_$i%02d").mkString(" "))
    def docText(tag: String): String =
      passages.zipWithIndex.map { case (p, k) => s"$p sep${tag}_$k" }.mkString(" ")
    // ids outside the query's plant classes (%5==1, %7==2, %11==3)
    val docs = Seq(4L -> docText("a"), 24L -> docText("b"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ll33heavy").toString
    docsDf(docs).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("ll33_substring_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))
    assert(out.length === 100, s"50 maximal cuts per doc, got ${out.length}")
    val byDoc = out.groupBy(_._1)
    for ((id, tag) <- Seq(4L -> "a", 24L -> "b")) {
      val rows = byDoc(id).sortBy(_._2)
      assert(rows.forall(r => r._4 === 50L && r._5 === 2500L),
        s"doc $id must attribute 50 spans / 2500 cut tokens")
      // cut k covers tokens [51k, 51k+49]; token 51k+50 is the kept separator
      assert(rows.map(r => (r._2, r._3)).toSeq ===
        (0 until 50).map(k => (51L * k, 51L * k + 49L)),
        s"doc $id cut list must be the 50 disjoint passage spans")
      val sess = spark
      import sess.implicits._
      val expect = Seq((0 until 50).map(k => s"sep${tag}_$k").mkString(" ")).toDF("t")
        .select(md5(col("t"))).head.getString(0)
      assert(rows.head._6 === expect,
        s"doc $id reassembly must keep exactly the 50 separators in order")
    }
  }
}
