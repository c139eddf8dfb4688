package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators over the `documents` table — the remaining
  * LLM-pipeline extensions: language ID, quality scoring, token
  * counting, and winnowing-style document fingerprinting.
  *
  * Every operator is a narrow per-document map (plus at most one
  * doc_id-keyed aggregation), so all of them scale embarrassingly:
  * at 100 TB they run as one codegen'd pass over the text column with
  * no cross-document shuffle (the fingerprint op shuffles only the
  * per-doc fingerprint hashes, never text).
  */
object TextAnalysis {

  /** Maintained (doc_id, score, actual) table for the classifier-eval
    * family — the ll2/l8 maintained-table contract applied to ta10's
    * scorer: ev8 (calibration), ev9 (AUC) and ev10 (lift) all consume
    * the SAME hashed-feature scores + rule verdict, and in production
    * the score table is a persisted curation artifact, not something
    * each evaluation re-derives from the raw corpus (the bigram
    * explode is the dominant cost of all three). Built once per corpus
    * version into [[graft.State]] scratch parquet, read back as a plain
    * columnar scan.
    */
  private def scoredTruth(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.State.scratch(s, dir, "evalscores", Tables.snapshotVersion(s, dir, "documents")) { p =>
      val k = 256
      val weights = s.range(k).select(col("id").as("bucket"),
        (conv(substring(md5(concat(lit("w"), col("id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000).as("w"))
      val feats = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "concat(ws, IF(size(ws) >= 2, " +
            "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1])), " +
            "CAST(array() AS ARRAY<STRING>)))")).as("f"))
        .withColumn("bucket",
          conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % k)
      val scores = feats.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id")).agg(sum(col("w")).as("score"))
      val truth = withQualityVerdict(Tables.documents(s, dir)
          .withColumn("ws", split(col("text"), " ")))
        .select(col("doc_id"),
          when(col("verdict") === "keep", 1L).otherwise(0L).as("actual"))
      scores.join(truth, "doc_id")
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }

  /** Kneser-Ney bigram LM (ta24's math factored out so ta26's
    * perplexity filter scores with the SAME estimates): exact-rational
    * ppm with absolute discount d = 3/4 — see ta24's doc comment for
    * the term-by-term derivation. One bigram-count aggregate + two
    * distinct-count rollups; output is bigram-TYPE-bounded (vocab²,
    * never corpus-sized). `topContexts = Some(n)` restricts c12 to
    * the n heaviest contexts via a broadcast BEFORE the scoring
    * joins — ta24's report shape, where scoring all types first
    * measurably went superlinear under the replica probe (the K=8
    * regression that motivated this parameter); the full-LM form is
    * for consumers that score every bigram anyway (ta26).
    */
  private[operators] def knBigramLm(s: SparkSession, dir: String,
                                    topContexts: Option[Int] = None): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val c12 = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val back = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val btypes = c12.agg(count(lit(1)).as("b")) // 1-row scalar
    val ctxUse = topContexts match {
      case Some(n) =>
        broadcast(ctx.orderBy(col("c1").desc, col("w1").asc).limit(n))
      case None => ctx
    }
    c12.join(ctxUse, "w1")
      .join(back, "w2")
      .crossJoin(broadcast(btypes)) // 1-row scalar, rule (b)'s shape
      .withColumn("term1_ppm", expr("(4 * c12 - 3) * 250000L DIV c1"))
      .withColumn("lambda_ppm", expr("750000L * n1f DIV c1"))
      .withColumn("pcont_ppm", expr("n1b * 1000000L DIV b"))
      .withColumn("p_kn_ppm",
        expr("term1_ppm + lambda_ppm * pcont_ppm DIV 1000000L"))
  }

  /** The MAINTAINED full KN bigram LM: a reference LM is a trained
    * artifact, not something every consumer re-estimates, so ta26's
    * gate and cp5's perplexity stage read one parquet scan.
    */
  private[operators] def knBigramLmTable(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Dedup.materializedTable(s, dir, "knlm")(knBigramLm(s, dir))

  /** ta32's trainer core: `iters` rounds of integer batch gradient
    * descent for a linear quality probe over `k` hashed unigram
    * buckets, emitted as a LONG-FORMAT trajectory — one row per
    * (round, bucket) with that round's post-update weight and
    * pre-update sum-of-absolute-errors. Training depth is an ARGUMENT
    * here, not a schema: the ta32 query pivots the trajectory into its
    * fixed three-round columns, while a deeper training run just asks
    * for more rounds (r16 verdict item #6). See the query's header
    * comment for the math and scale contract. Driver state is the
    * k-long weight vector per round (the ll4b/lloydRefine
    * model-sized-collect contract); the per-round plans read one
    * persisted feature table.
    */
  private[graft] def trainQualityProbeTrajectory(s: SparkSession, dir: String,
                                                 k: Int = 64, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters $iters must be >= 1")
    val docs = withQualityVerdict(
        Tables.documents(s, dir).withColumn("ws", split(col("text"), " ")))
      .select(col("doc_id"),
        when(col("verdict") === "keep", 1000L).otherwise(0L).as("y"), col("ws"))
    val feats = docs.select(col("doc_id"), col("y"),
        explode(array_distinct(expr(
          s"transform(ws, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % $k)")))
          .as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // model statistics in ONE action (the t1c fusion rule): the
      // k-bounded df table and the 1-row bmax scalar union into a
      // single collected frame instead of two driver-sequential jobs
      val statRows = feats.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
        .select(col("bucket"), col("df"), lit(null).cast("long").as("bmax"))
        .unionByName(feats.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("bmax"))
          .select(lit(-1L).as("bucket"), lit(null).cast("long").as("df"),
            col("bmax")))
        .collect()
      val dfMap = statRows.filter(!_.isNullAt(1))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap // k-bounded model state
      // Lipschitz-safe diagonal step: a doc's prediction sums up to B
      // bucket weights, so the loss curvature row-sum for bucket j is
      // bounded by df_j * B — stepping grad_j DIV (2 * df_j * B) stays
      // inside the convergent region (grad_j / df_j alone overshoots
      // by a factor of B and DIVERGES: sae tripled per round when the
      // first cut of this trainer used it)
      val bMax = statRows.find(r => r.getLong(0) == -1L && !r.isNullAt(2))
        .map(_.getLong(2)).getOrElse(0L)
      val w = Array.fill(k)(0L)
      val hist = Array.ofDim[Long](iters, k)
      val saes = new Array[Long](iters)
      for (t <- 0 until iters) {
        val wExpr = expr(
          s"element_at(array(${w.map(_ + "L").mkString(",")}), CAST(bucket AS INT) + 1)")
        val errs = feats.withColumn("wj", wExpr)
          .groupBy(col("doc_id"), col("y")).agg(sum(col("wj")).as("pred"))
          .select(col("doc_id"), (col("pred") - col("y")).as("err"))
        // per-round: the k-bounded gradient AND the 1-row sae scalar in
        // ONE collected frame (was two full-pipeline jobs per round);
        // the values are the same sums, so the trajectory is unchanged
        val roundRows = feats.join(errs, "doc_id")
          .groupBy(col("bucket")).agg(sum(col("err")).as("g"))
          .select(col("bucket"), col("g"), lit(null).cast("long").as("sae"))
          .unionByName(errs.agg(sum(abs(col("err"))).as("sae"))
            .select(lit(-1L).as("bucket"), lit(null).cast("long").as("g"),
              col("sae")))
          .collect()
        saes(t) = roundRows.find(r => r.getLong(0) == -1L && !r.isNullAt(2))
          .map(_.getLong(2)).getOrElse(0L)
        roundRows.filter(!_.isNullAt(1)).foreach { r =>
          val b = r.getLong(0)
          // toward-zero truncation on both sides: Scala / == DuckDB //
          w(b.toInt) = w(b.toInt) - r.getLong(1) / (2L * dfMap(b) * bMax)
        }
        hist(t) = w.clone()
      }
      val sess = s
      import sess.implicits._
      dfMap.toSeq.sortBy(_._1).flatMap { case (b, d) =>
        (0 until iters).map(t => (t + 1L, b, d, hist(t)(b.toInt), saes(t)))
      }.toDF("round", "bucket", "df", "w", "sae")
    } finally feats.unpersist()
  }

  /** The pivoted trainer view ta32 (and the maintained probe table)
    * consume: one row per bucket with per-round weight/sae columns
    * w1..wN, sae1..saeN. N=3 reproduces the original ta32 schema
    * byte-for-byte; any other depth pivots the same way. Model-grain
    * pivot (k × iters rows), so the groupBy is free.
    */
  private[graft] def trainQualityProbe(s: SparkSession, dir: String,
                                       k: Int = 64, iters: Int = 3): DataFrame = {
    val traj = trainQualityProbeTrajectory(s, dir, k, iters)
    val aggs =
      (1 to iters).map(t => max(when(col("round") === t, col("w"))).as(s"w$t")) ++
        (1 to iters).map(t => max(when(col("round") === t, col("sae"))).as(s"sae$t"))
    traj.groupBy(col("bucket"), col("df")).agg(aggs.head, aggs.tail: _*)
      .orderBy(col("bucket"))
  }

  /** ta32's training chain as a DuckDB WITH-clause fragment, shared
    * by the trainer's own oracle and ev14's scoring oracle (the
    * simhashBruteCtes convention): label rule → hashed features →
    * df/bmax statistics → three unrolled GD rounds producing w1..w3
    * and the per-round pre-update losses s1..s3.
    */
  // lazy: references `stopwords`, which is declared further down the
  // object — an eager val here NPEs the object initializer
  private[operators] lazy val ta32Ctes: String =
    s"""q AS (SELECT doc_id,
             CASE WHEN n_words BETWEEN 20 AND 100
                   AND (n_chars - (n_words - 1)) / n_words < 8
                   AND stop_hits / n_words >= 0.02
                  THEN 1000 ELSE 0 END AS y
           FROM (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(list_filter(string_split(text, ' '),
                     w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                 FROM documents)),
         f0 AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(string_split(text, ' '),
                    t -> CAST(CAST('0x' || substr(md5(t), 1, 8) AS UBIGINT) % 64 AS BIGINT))))
                    AS bucket
                FROM documents),
         feats AS (SELECT f0.doc_id, q.y, f0.bucket FROM f0 JOIN q USING (doc_id)),
         dfb AS (SELECT bucket, COUNT(*) AS df FROM feats GROUP BY 1),
         bmax AS (SELECT CAST(MAX(c) AS BIGINT) AS b FROM
                    (SELECT COUNT(*) AS c FROM feats GROUP BY doc_id)),
         e1 AS (SELECT doc_id, CAST(0 - y AS BIGINT) AS err
                FROM (SELECT DISTINCT doc_id, y FROM feats)),
         s1 AS (SELECT CAST(SUM(ABS(err)) AS BIGINT) AS sae FROM e1),
         g1 AS (SELECT bucket, CAST(SUM(err) AS BIGINT) AS g
                FROM feats JOIN e1 USING (doc_id) GROUP BY bucket),
         w1 AS (SELECT dfb.bucket,
                  CAST(0 - g1.g // (2 * dfb.df * (SELECT b FROM bmax)) AS BIGINT) AS w
                FROM dfb JOIN g1 USING (bucket)),
         p2 AS (SELECT f.doc_id, f.y, CAST(SUM(w1.w) AS BIGINT) AS pred
                FROM feats f JOIN w1 USING (bucket) GROUP BY 1, 2),
         e2 AS (SELECT doc_id, pred - y AS err FROM p2),
         s2 AS (SELECT CAST(SUM(ABS(err)) AS BIGINT) AS sae FROM e2),
         g2 AS (SELECT bucket, CAST(SUM(err) AS BIGINT) AS g
                FROM feats JOIN e2 USING (doc_id) GROUP BY bucket),
         w2 AS (SELECT w1.bucket,
                  CAST(w1.w - g2.g // (2 * dfb.df * (SELECT b FROM bmax)) AS BIGINT) AS w
                FROM w1 JOIN g2 USING (bucket) JOIN dfb USING (bucket)),
         p3 AS (SELECT f.doc_id, f.y, CAST(SUM(w2.w) AS BIGINT) AS pred
                FROM feats f JOIN w2 USING (bucket) GROUP BY 1, 2),
         e3 AS (SELECT doc_id, pred - y AS err FROM p3),
         s3 AS (SELECT CAST(SUM(ABS(err)) AS BIGINT) AS sae FROM e3),
         g3 AS (SELECT bucket, CAST(SUM(err) AS BIGINT) AS g
                FROM feats JOIN e3 USING (doc_id) GROUP BY bucket),
         w3 AS (SELECT w2.bucket,
                  CAST(w2.w - g3.g // (2 * dfb.df * (SELECT b FROM bmax)) AS BIGINT) AS w
                FROM w2 JOIN g3 USING (bucket) JOIN dfb USING (bucket))"""

  /** The MAINTAINED trained probe (the knBigramLm convention): ev14
    * reads one 64-row parquet scan. ta32 itself stays the RAW trainer
    * so its bench/probe cost measures real training work.
    */
  private[operators] def probeModelTable(s: SparkSession, dir: String): DataFrame =
    Dedup.materializedTable(s, dir, "probemodel")(trainQualityProbe(s, dir))

  /** Streaming input row / state for [[miniBatchGdStream]]. */
  case class ProbeDoc(doc_id: Long, y: Long, buckets: Seq[Long])
  case class ProbeState(ver: Long, n: Seq[Long], w: Seq[Long])

  /** ONLINE quality-probe training — the third scale regime of the
    * trainer family, mirroring k-means' triple exactly:
    * [[trainQualityProbe]] is the full-corpus batch trainer (one scan
    * per iteration), ta10 consumes a finished model, and THIS
    * maintains the linear probe as labeled documents ARRIVE, no
    * rescan ever. Per document (folded in doc_id order within a
    * batch): pred = Σ w_j over its b distinct buckets, err = pred − y,
    * then each touched bucket takes the Robbins-Monro step
    * n_j += 1; w_j −= err DIV (2·n_j·b) — the per-coordinate 1/n rate
    * mini-batch k-means uses, with the same 1/b prediction-fan-in
    * guard as the batch trainer's 1/B. State is 2k longs in ONE
    * state-store group (updates are inherently sequential, the
    * miniBatchKmeansStream argument); all arithmetic exact truncating
    * int64. Emits a per-batch (version, bucket, n, w) snapshot — the
    * latest version IS the live model. StreamingSpec pins exact
    * equality against an independent driver-side fold on a split
    * feed, plus the learning direction on a planted keep/flag vocab.
    */
  def miniBatchGdStream(docs: org.apache.spark.sql.Dataset[ProbeDoc], k: Int)
    : org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, it: Iterator[ProbeDoc], state: GroupState[ProbeState]) => {
          val st = state.getOption.getOrElse(
            ProbeState(0L, Seq.fill(k)(0L), Seq.fill(k)(0L)))
          val n = st.n.toArray
          val w = st.w.toArray
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            val bs = d.buckets.distinct
            val b = math.max(bs.length.toLong, 1L)
            var pred = 0L
            bs.foreach(j => pred += w(j.toInt))
            val err = pred - d.y // fixed before the per-bucket updates
            bs.foreach { jj =>
              val j = jj.toInt
              n(j) += 1L
              w(j) -= err / (2L * n(j) * b)
            }
          }
          val next = ProbeState(st.ver + 1L, n.toSeq, w.toSeq)
          state.update(next)
          (0 until k).iterator.map(j => (next.ver, j.toLong, n(j), w(j)))
        })
  }

  /** Exact-integer floor(log2) in MILLI-BITS of a column named `x`
    * (1 <= x < 2^20): the exponent is a 20-arm CASE over power-of-two
    * literals, the fraction an 8-arm CASE over the 3-bit mantissa
    * m = x·8 >> e — the dq4 trick (transcendentals as integer plan
    * literals), generated ONCE here so the Spark expression and the
    * DuckDB oracle interpolate the identical text and can never
    * disagree on a constant. Max error ~0.17 bits (the mantissa
    * quantum), deterministic in both engines.
    */
  private[operators] val log2ExpCase: String = (19 to 1 by -1)
    .map(e => s"WHEN x >= ${1L << e} THEN $e").mkString("CASE ", " ", " ELSE 0 END")
  private[operators] val log2FracCase: String =
    Seq(0, 169, 321, 459, 584, 700, 807, 906).zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 8} THEN $v" }
      .mkString("CASE m ", " ", " ELSE 0 END")

  /** ts7's wide-range variant of log2ExpCase: PMI ratios in ppm reach
    * ~1e11 (well past ta26's 2^20 surprisal domain), so the exponent
    * arms run to 2^44. Same construction, same mantissa CASE.
    */
  private[operators] val log2ExpCaseWide: String = (44 to 1 by -1)
    .map(e => s"WHEN x >= ${1L << e} THEN $e").mkString("CASE ", " ", " ELSE 0 END")

  /** Tiny per-language stopword lists for the n-gram/stopword
    * language-ID heuristic. Fixed and mirrored in the oracle — the
    * check verifies the scoring pipeline, not linguistic truth.
    */
  private[operators] val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "de", "et"))

  private[operators] def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Language-ID stage: adds per-language stopword scores (`s_<lang>`)
    * and a `predicted` column (first language in fixed order achieving
    * the max score, 'unknown' when all scores are 0). Needs a `ws`
    * split-words column. Reused by ta1 and the cp1 composed intake.
    */
  def withLangPrediction(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = stopwords.foldLeft(df) { case (d, (lang, words)) =>
      d.withColumn(s"s_$lang",
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(words)})) AS BIGINT)"))
    }
    val best = greatest(stopwords.map { case (l, _) => col(s"s_$l") }: _*)
    // first-match-wins in list order, like the oracle's CASE chain
    val predFirst = stopwords.reverse.foldLeft(lit("unknown")) { case (acc, (lang, _)) =>
      when(best > 0 && col(s"s_$lang") === best, lit(lang)).otherwise(acc)
    }
    scored.withColumn("predicted", predFirst)
  }

  /** Quality stage: length / word-shape / stopword-ratio heuristics
    * with a keep/flag `verdict`. Needs a `ws` column. Reused by ta2
    * and cp1.
    */
  def withQualityVerdict(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("avg_word_len",
        (col("n_chars") - (col("n_words") - 1)) / col("n_words"))
      .withColumn("stop_hits",
        expr(s"CAST(size(filter(ws, w -> w IN ${inList(stopwords.head._2)})) AS BIGINT)"))
      .withColumn("stop_ratio", col("stop_hits") / col("n_words"))
      .withColumn("verdict",
        when(col("n_words").between(20, 100) && col("avg_word_len") < 8 &&
          col("stop_ratio") >= 0.02, lit("keep")).otherwise(lit("flag")))

  /** ta27's STATIC tokenizer: a released BPE is a fixed artifact
    * shipped to every consumer, so its merge table lives here as a
    * literal — (left, right, marker) with markers outside the corpus
    * alphabet (text is lowercase ASCII). Each merge rewrites the
    * symbol string left-to-right non-overlapping, which is EXACTLY
    * what a sequential one-char-marker `replace` chain does — so the
    * encode is a pure codegen string expression on the Spark side and
    * the identical SQL in DuckDB (one shared constant, the dq4
    * convention), and BpeSpec pins the chain ≡ Bpe.encodeWord on the
    * same merges. Includes two SECOND-LEVEL merges ("at"+"a",
    * "th"+"e") so the marker-composition path is exercised, not just
    * base pairs.
    */
  private[operators] val ta27Merges: Seq[(String, String)] = Seq(
    "at" -> "A", "er" -> "B", "Aa" -> "C", "st" -> "D",
    "th" -> "E", "Ee" -> "F", "ow" -> "G", "in" -> "H")

  /** The merge list in Bpe.Merge form (markers resolved back to their
    * symbol pairs) — what encodeWord applies; kept next to the chain
    * so the two representations cannot drift.
    */
  private[operators] val ta27BpeMerges: Seq[graft.functions.Bpe.Merge] =
    Seq("a" -> "t", "e" -> "r", "at" -> "a", "s" -> "t",
      "t" -> "h", "th" -> "e", "o" -> "w", "i" -> "n")
      .zipWithIndex.map { case ((l, r), i) =>
        graft.functions.Bpe.Merge(i, l, r, 0L)
      }

  /** replace-chain encode of column `c`: the token count of a word is
    * the LENGTH of the fully-marked string.
    */
  private[operators] def ta27Chain(c: String): String =
    ta27Merges.foldLeft(c) { case (acc, (pat, mk)) =>
      s"replace($acc, '$pat', '$mk')"
    }

  val defs: Map[String, Q] = Map(

    // TA27: TOKENIZER FERTILITY REPORT — the number that sizes a
    // vocab and sets per-language token budgets (pairs with ta25's
    // token accounting): for a FIXED tokenizer, tokens-per-1k-words
    // and bytes-per-1k-tokens per language. Corpus-linear SINGLE
    // scan: explode words with lang, aggregate — the encode is the
    // static replace chain above, pure whole-stage-codegen string
    // functions (no UDF, no dictionary collect; an open-vocab corpus
    // flows straight through). All-integer permille ratios; text is
    // ASCII so chars == bytes on both engines.
    "ta27_tokenizer_fertility" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .withColumn("tok_n", expr(s"CAST(length(${ta27Chain("w")}) AS BIGINT)"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(length(col("w")).cast("long")).as("n_bytes"),
          sum(col("tok_n")).as("n_tokens"))
        .withColumn("tokens_per_1k_words",
          expr("n_tokens * 1000 DIV n_words"))
        .withColumn("bytes_per_1k_tokens",
          expr("n_bytes * 1000 DIV n_tokens"))
    }),

    // TA28: VOCAB-SIZE SWEEP — the decision curve ta27's fertility
    // feeds: corpus token count at every merge-list PREFIX length
    // k = 0, 2, 4, 6, 8 (a BPE vocab is its merge list; "vocab size"
    // is where you cut it). Each prefix chain rides the SAME single
    // scan as 5 nested replace expressions (one corpus pass, zero
    // joins), then a 5-row lag window reads off the MARGINAL tokens
    // saved per added merge pair — the diminishing-returns read that
    // picks the cut. All-integer; same shared chain constant as ta27
    // so the two reports can never disagree about the tokenizer.
    "ta28_vocab_sweep" -> ((s, dir) => {
      val ks = Seq(0, 2, 4, 6, 8)
      val words = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val sums = ks.map(k => sum(expr(
        s"CAST(length(${ta27Merges.take(k).foldLeft("w") { case (acc, (p, m)) =>
          s"replace($acc, '$p', '$m')" }}) AS BIGINT)")).as(s"t$k"))
      val aggCols = count(lit(1)).as("n_words") +: sums
      val agg = words.agg(aggCols.head, aggCols.tail: _*)
      val perK = ks.map(k =>
        s"struct(CAST($k AS BIGINT) AS k_merges, t$k AS n_tokens)").mkString(", ")
      val w = Window.orderBy(col("k_merges")) // 5 rows — never corpus-sized
      agg.select(col("n_words"), explode(expr(s"array($perK)")).as("x"))
        .select(col("x.k_merges"), col("x.n_tokens"), col("n_words"))
        .withColumn("tokens_per_1k_words",
          expr("n_tokens * 1000 DIV n_words"))
        .withColumn("marginal_tokens_saved",
          coalesce(lag(col("n_tokens"), 1).over(w) - col("n_tokens"), lit(0L)))
    }),

    // TS7: PMI COLLOCATIONS — the classic collocation miner (Church &
    // Hanks 1990): pointwise mutual information of adjacent word
    // pairs, log2(P(xy) / (P(x)·P(y))) in MILLI-BITS, ranked top-20.
    // Exact integers end to end: the ratio rides as ppm
    // (c_xy·N·1e6 DIV (c_x·c_y), DECIMAL(38) cross-multiplication),
    // the log2 is the dq4 exponent+mantissa CASE (wide arms — PMI
    // ratios reach ~1e11), and the 1e6 offset is subtracted through
    // the SAME quantizer (log2_mb(1e6) = 19906), so both engines
    // agree bit-for-bit and negative PMI stays representable. Support
    // gate is scale-FREE (pair mass ≥ 0.001% of N — an absolute count
    // would flip with sf). Corpus-scale work: one bigram aggregate +
    // one unigram rollup, both map-side combinable; top-20 is
    // TakeOrdered, never a global sort.
    "ts7_pmi_collocations" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
      val cxy = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      val cx = cxy.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
      val cy = cxy.groupBy(col("w2")).agg(sum(col("c_xy")).as("c_y"))
      val n = cxy.agg(sum(col("c_xy")).as("n_bigrams"))
      cxy.join(cx, "w1").join(cy, "w2").crossJoin(broadcast(n))
        .filter(col("c_xy") * 100000 >= col("n_bigrams")) // scale-free support
        .withColumn("x", expr(
          "CAST(CAST(c_xy AS DECIMAL(38,0)) * n_bigrams * 1000000 " +
            "DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"))
        .withColumn("e", expr(log2ExpCaseWide))
        .withColumn("m", expr("(x * 8) DIV shiftleft(1L, CAST(e AS INT))"))
        .withColumn("pmi_mb", expr(
          s"CAST(e * 1000 + ($log2FracCase) - 19906 AS BIGINT)"))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi_mb"))
        .orderBy(col("pmi_mb").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // TA29: PADDING-WASTE REPORT — the training-efficiency read that
    // justifies length-bucketed batching: for batch size B = 16,
    // padded tokens (every doc pads to its batch's max length) under
    // (a) ARRIVAL-order batching (batch = doc_id DIV B — one linear
    // groupBy) vs (b) LENGTH-SORTED batching. The sorted leg never
    // sorts the corpus: padding depends only on the LENGTH MULTISET,
    // so batch maxima come from the length HISTOGRAM — a full batch
    // ends inside length L exactly (cum DIV B − prev_cum DIV B)
    // times, the partial tail (n mod B docs) pads to the global max
    // (it holds the largest lengths). One scan + a length-domain
    // window (bounded by max doc length, ScaleGuard-pinned), zero
    // corpus-sized exchanges. waste_ppm = the fraction of compute
    // that is padding — the number that picks the batching strategy.
    "ta29_padding_waste" -> ((s, dir) => {
      val B = 16
      val lens = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("len"))
      val arrival = lens.groupBy(expr(s"doc_id DIV $B").as("b"))
        .agg(count(lit(1)).as("cnt"), max(col("len")).as("mx"),
          sum(col("len")).as("tot"))
        .agg(lit("arrival").as("strategy"),
          sum(col("cnt")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("tot")).as("total_tokens"),
          sum(col("cnt") * col("mx")).as("padded_tokens"))
      val w = Window.orderBy(col("len")) // length-domain histogram
      val sorted = lens.groupBy(col("len")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("prev", col("cum") - col("c"))
        .agg(
          sum(col("c")).as("n_docs"),
          sum(col("c") * col("len")).as("total_tokens"),
          sum(expr(s"(cum DIV $B - prev DIV $B) * ${B}L * len"))
            .as("full_padded"),
          max(col("cum")).as("n"), max(col("len")).as("lmax"))
        .select(lit("length_sorted").as("strategy"), col("n_docs"),
          expr(s"(n + ${B - 1}) DIV $B").as("n_batches"),
          col("total_tokens"),
          expr(s"full_padded + (n % $B) * lmax").as("padded_tokens"))
      arrival.unionByName(sorted)
        .withColumn("waste_ppm", expr(
          "(padded_tokens - total_tokens) * 1000000 DIV padded_tokens"))
    }),

    // Language ID: score = stopword hits per language; prediction =
    // first language (in fixed order) achieving the max score, or
    // 'unknown' when all scores are 0.
    "ta1_lang_id" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
      withLangPrediction(base)
        .select(col("doc_id") +: col("lang").as("labeled_lang") +:
          stopwords.map { case (l, _) => col(s"s_$l") } :+ col("predicted"): _*)
    }),

    // Quality scoring: length / word-shape / stopword-ratio heuristics
    // with a keep/flag verdict.
    "ta2_quality_score" -> ((s, dir) => {
      withQualityVerdict(Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " ")))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("avg_word_len"), col("stop_ratio"), col("verdict"))
    }),

    // Token counting: whitespace tokens and a BPE-ish regex token
    // count (letter runs / digit runs / single other chars).
    "ta3_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
            .as("n_re_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }),

    // Repetition-based quality filters in the style of the Gopher
    // corpus rules (Rae et al. 2021 §A.1.1): share of the most
    // frequent word, share of the most frequent word-bigram, and the
    // fraction of word-3-gram occurrences that are duplicated inside
    // the document. Each n-gram level is a (doc_id, gram) count
    // aggregate with map-side partial aggregation — the shuffles carry
    // per-doc gram counts, never text, and join back on doc_id.
    "ta5_repetition_quality" -> ((s, dir) => {
      val base = Tables.documents(s, dir).withColumn("ws", split(col("text"), " "))
      // per level, only the aggregate the output needs (max share for
      // 1/2-grams, duplicated-occurrence sum for 3-grams) rides the
      // per-doc shuffle
      def gramStats(n: Int, stat: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
        val gexpr =
          if (n == 1) "ws"
          else s"transform(sequence(0, size(ws) - $n), i -> concat_ws(' ', " +
            (0 until n).map(j => s"ws[i+$j]").mkString(", ") + "))"
        base.filter(size(col("ws")) >= n)
          .select(col("doc_id"), explode(expr(gexpr)).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as(s"tot$n"), stat)
      }
      gramStats(1, max(col("c")).as("max1"))
        .join(gramStats(2, max(col("c")).as("max2")), "doc_id")
        .join(gramStats(3,
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3")), "doc_id")
        .select(col("doc_id"),
          (col("max1") / col("tot1")).as("max_word_share"),
          (col("max2") / col("tot2")).as("top_bigram_share"),
          (col("dup3") / col("tot3")).as("dup_trigram_frac"))
        .withColumn("repetitive",
          col("max_word_share") > 0.2 || col("top_bigram_share") > 0.2 ||
            col("dup_trigram_frac") > 0.6)
    }),

    // Token-budget shard packing: assign each document (in doc_id
    // order) to the training shard its running token count falls in —
    // the "cut the corpus into ~equal token shards" step before
    // tokenizer/loader jobs. The prefix sum is TWO-LEVEL so no
    // ordering window ever sees the whole corpus in one partition,
    // and the bucket size is ~sqrt(id range) — the l1 sizing — so
    // BOTH levels stay sublinear: each intra-bucket cumulative-sum
    // window holds ~sqrt(N) rows and the global prefix window sees
    // ~sqrt(N) bucket-total rows (a fixed bucket size would make the
    // bucket-total table grow linearly with the corpus and funnel it
    // through the one-task global window). The sizing costs one
    // memoized scalar max() statistic, not a per-construction scan.
    "ta6_shard_pack" -> ((s, dir) => {
      val budget = 2000L // tokens per shard
      val maxId = Tables.maxIdStat(s, dir, "documents", "doc_id")
      val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)"))
      val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val local = d.withColumn("cum_local", sum(col("n_tokens")).over(wLocal))
      val wPrefix = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      // sqrt(N)-row prefix table: no forced broadcast (same reasoning
      // as l1 — AQE broadcasts while it fits, hash-joins beyond that).
      val prefix = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
        .withColumn("prefix", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
        .select(col("bucket"), col("prefix"))
      local.join(prefix, "bucket")
        .select(col("doc_id"), col("n_tokens"),
          expr(s"CAST((prefix + cum_local - n_tokens) DIV $budget AS BIGINT)")
            .as("shard_id"))
    }),

    // TA23: SYSTEMATIC PPS SAMPLE (probability proportional to size,
    // Madow 1949 — the survey-sampling standard): walk the corpus in
    // doc_id order and take one sampling unit every `step` tokens, so
    // a document's selection count is EXACTLY proportional to its
    // token mass (ta9 samples documents uniformly; training-data
    // token budgets want token-mass sampling, and long docs can
    // legitimately win multiple units). A doc is selected iff its
    // token interval ((cum−w), cum] straddles a step multiple —
    // n_units = cum DIV step − (cum−w) DIV step, all integers, zero
    // randomness. Same two-level sqrt-bucket prefix sum as ta6 (no
    // window ever sees more than ~√N rows); the step derives from the
    // memoized token-total statistic, not a second scan.
    "ta23_pps_sample" -> ((s, dir) => {
      val units = 100L
      val tot = Tables.sumStat(s, dir, "documents", "size(split(text, ' '))")
      val step = math.max(1L, tot / units)
      val maxId = Tables.maxIdStat(s, dir, "documents", "doc_id")
      val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)"))
      val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val local = d.withColumn("cum_local", sum(col("n_tokens")).over(wLocal))
      val wPrefix = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
        .withColumn("prefix", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
        .select(col("bucket"), col("prefix"))
      local.join(prefix, "bucket")
        .withColumn("cum", col("prefix") + col("cum_local"))
        .withColumn("n_units",
          expr(s"cum DIV ${step}L - (cum - n_tokens) DIV ${step}L"))
        .filter(col("n_units") > 0L)
        .select(col("doc_id"), col("n_tokens"), col("n_units"))
    }),

    // Fixed-length SEQUENCE PACKING — the last hop before a training
    // loader: concatenate the corpus (doc_id order) into back-to-back
    // 512-token sequences, splitting documents across sequence
    // boundaries, and emit the (seq_id, doc_id, doc_off, len) spans a
    // dataloader needs to materialize each sequence. ta6 cuts ~equal
    // token SHARDS (docs never split); this is the finer-grained
    // packer whose output rows feed attention-boundary bookkeeping.
    // Same two-level sqrt-bucketed prefix sum as ta6/l1, so neither
    // ordering window ever sees more than ~sqrt(N) rows; the boundary
    // explode adds at most ceil(n_tokens/512) rows per doc.
    "ta19_sequence_pack" -> ((s, dir) => {
      val seqLen = 512L
      val maxId = Tables.maxIdStat(s, dir, "documents", "doc_id")
      val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket", expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)"))
      val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      val local = d.withColumn("cum_local", sum(col("n_tokens")).over(wLocal))
      val wPrefix = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = d.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("btot"))
        .withColumn("prefix", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
        .select(col("bucket"), col("prefix"))
      local.join(prefix, "bucket")
        .withColumn("endp", col("prefix") + col("cum_local"))
        .withColumn("startp", col("endp") - col("n_tokens"))
        .select(col("doc_id"), col("startp"), col("endp"),
          explode(expr(s"sequence(startp DIV $seqLen, (endp - 1) DIV $seqLen)"))
            .as("seq_id"))
        .select(col("seq_id"), col("doc_id"),
          (greatest(col("startp"), col("seq_id") * seqLen) - col("startp")).as("doc_off"),
          (least(col("endp"), (col("seq_id") + 1L) * seqLen) -
            greatest(col("startp"), col("seq_id") * seqLen)).as("len"))
    }),

    // PII detection + redaction over text — the scrub step before any
    // corpus leaves the trust boundary. The corpus is synthetic, so
    // deterministic PII is injected first (emails on doc_id % 7,
    // phone fragments on doc_id % 11) and then found and masked by
    // the same regexes a production scrubber would use. Pure narrow
    // map: one codegen'd regexp pass per document, no shuffle; the
    // redacted text is md5'd so the check pins the exact output
    // without hauling full texts through the compare.
    // SELF-REPETITION TRIMMING — the intra-document half of span
    // dedup (ta5 only SCORES repetition; training-data curation also
    // REMOVES it, cf. Lee et al. 2022's within-example dedup): every
    // repeat occurrence of a trigram already seen earlier in the SAME
    // document is cut (all 3 positions of the repeat span; the first
    // occurrence stays), and the document reassembles in order. All
    // keys are (doc_id, ...) so every shuffle partitions by document —
    // corpus-linear, no cross-doc state; removal is a 3-row explode
    // per duplicate start + one anti-join, no window needed. Trimmed
    // text is pinned by md5, so the check covers exact span removal
    // and order-preserving reassembly.
    "ta20_selfrepeat_trim" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")).cast("long"))
      val pos = d.select(col("doc_id"), col("n"),
          posexplode(col("ws")).as(Seq("p0", "w")))
        .withColumn("pos", (col("p0") + 1).cast("long")).drop("p0")
      // trigrams come straight off the word array (no positional
      // self-join); words are space-free post-split, so the
      // space-joined key is collision-free
      val tri = d.filter(col("n") >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1L, n - 2), p -> named_struct('pos', p, " +
            "'tri', concat_ws(' ', ws[CAST(p - 1 AS INT)], ws[CAST(p AS INT)], ws[CAST(p + 1 AS INT)])))"))
          .as("x"))
        .select(col("doc_id"), col("x.pos").as("pos"), col("x.tri").as("tri"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // first-occurrence agg + dup-start probe
      val firstPos = tri.groupBy(col("doc_id"), col("tri"))
        .agg(min(col("pos")).as("first_pos"))
      val dupStarts = tri.join(firstPos, Seq("doc_id", "tri"))
        .filter(col("pos") > col("first_pos"))
        .select(col("doc_id"), col("pos"))
      val covered = dupStarts
        .select(col("doc_id"), explode(expr("sequence(pos, pos + 2)")).as("pos"))
        .distinct()
      val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
      kept.groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_before"),
          count(lit(1)).as("n_after"),
          md5(expr("concat_ws(' ', transform(sort_array(collect_list(struct(pos, w))), x -> x.w))"))
            .as("trimmed_md5"))
    }),

    // TA25: DEDUP TOKEN-BUDGET REPORT — ta16 reports dedup impact in
    // DOCUMENTS; the currency a training run actually budgets is
    // TOKENS: per source, how much token mass survives exact dedup
    // (ll1's keep-min-doc rule — a duplicate group spanning sources
    // credits its tokens to the keeper's source, exactly what a
    // cross-source dedup does to a mixture weight). One content-hash
    // aggregate + one source rollup; savings in exact ppm.
    "ta25_dedup_token_report" -> ((s, dir) => {
      // two-crawl scenario (ll1/ta16's corpus, source column kept):
      // the recrawl duplicates every doc verbatim at +1e8, so dedup
      // reclaims exactly the recrawl's token mass — the report must
      // show it per source (the base documents table is dup-free and
      // would report zero everywhere)
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val two = base.unionByName(base.select(
        (col("doc_id") + 100000000L).as("doc_id"), col("source"), col("text")))
      val d = two.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
      d.join(keep, "h")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("doc_id") === col("keep_id"), col("n_tokens"))
            .otherwise(0L)).as("tokens_kept"))
        .withColumn("token_savings_ppm",
          expr("(tokens_total - tokens_kept) * 1000000L DIV tokens_total"))
    }),

    // CP4: CLASSIFIER RELEASE GATE — the ev family composed into the
    // ONE decision a curation pipeline actually ships on: from the
    // maintained score table, (a) ev9's tie-aware AUC, (b) ev10's
    // top-decile lift, (c) ev8's calibration bins reduced to a
    // MONOTONICITY verdict (keep-rate non-decreasing in score bin),
    // crossed into a single release row: released ⇔ AUC beats
    // coin-flip by 10 points AND the top decile concentrates ≥ 1.2×
    // the base rate AND calibration is monotone. Every leg reads the
    // same cached artifact, so the whole gate is three bounded
    // aggregates over one columnar scan.
    "cp4_eval_release" -> ((s, dir) => {
      val st = scoredTruth(s, dir)
      // leg (a): AUC via the two-level half-unit histogram (ev9)
      val fine = st.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("actual")).as("p"))
        .withColumn("cb", expr("score DIV 4096"))
      val wCoarse = Window.orderBy(col("cb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val coarse = fine.groupBy(col("cb")).agg(sum(col("n")).as("bn"))
        .withColumn("prefix", coalesce(sum(col("bn")).over(wCoarse), lit(0L)))
        .select(col("cb"), col("prefix"))
      val wLocal = Window.partitionBy(col("cb")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val auc = fine
        .withColumn("local_before", coalesce(sum(col("n")).over(wLocal), lit(0L)))
        .join(coarse, "cb")
        .withColumn("cum_before", col("prefix") + col("local_before"))
        .agg(sum(expr("CAST(p AS DECIMAL(38,0)) * (2 * cum_before + n + 1)")).as("rpos2"),
          sum(col("p")).as("npos"), sum(expr("n - p")).as("nneg"))
        .select(expr(
          "IF(npos = 0 OR nneg = 0, 0L, CAST(" +
            "(CAST(rpos2 AS DECIMAL(38,0)) - CAST(npos AS DECIMAL(38,0)) * (npos + 1)) " +
            "* 1000000 DIV (2 * CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT))")
          .as("auc_ppm"))
      // leg (b): top-decile lift via ev10's histogram-pure interval
      // algebra — each (score, actual) histogram row's overlap with
      // the top-decile rank interval [N - (N-1) DIV 10, N] is pure
      // arithmetic; no per-doc window anywhere (r12 verdict #3)
      val fineA = st.groupBy(col("score"), col("actual"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cb", expr("score DIV 4096"))
      val coarseN = fineA.groupBy(col("cb")).agg(sum(col("n")).as("bn"))
        .withColumn("prefix", coalesce(sum(col("bn")).over(wCoarse), lit(0L)))
        .select(col("cb"), col("prefix"))
      val wLocalA = Window.partitionBy(col("cb"))
        .orderBy(col("score"), col("actual"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nTotal = st.agg(count(lit(1)).as("n_total"),
        sum(col("actual")).as("tot_pos"))
      val lift = fineA
        .withColumn("local_before", coalesce(sum(col("n")).over(wLocalA), lit(0L)))
        .join(coarseN, "cb")
        .crossJoin(broadcast(nTotal)) // 1-row scalar, rule (b)'s shape
        .withColumn("lo", col("prefix") + col("local_before") + 1)
        .withColumn("hi", col("prefix") + col("local_before") + col("n"))
        .withColumn("cnt", expr(
          "least(hi, n_total) - greatest(lo, n_total - (n_total - 1) DIV 10) + 1"))
        .filter(col("cnt") > 0)
        .agg(sum(col("cnt")).as("d_docs"), sum(expr("actual * cnt")).as("d_pos"),
          max(col("n_total")).as("n_total"), max(col("tot_pos")).as("tot_pos"))
        .select(expr(
          "CAST(CAST(d_pos AS DECIMAL(38,0)) * n_total * 1000000 " +
            "DIV (CAST(d_docs AS DECIMAL(38,0)) * tot_pos) AS BIGINT)")
          .as("top_decile_lift_ppm"))
      // leg (c): calibration monotonicity over ev8's equal-width bins
      val mm = st.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      val bins = st.crossJoin(broadcast(mm))
        .withColumn("bin", expr("(score - lo) * 10 DIV (hi - lo + 1)"))
        .groupBy(col("bin"))
        .agg(expr("sum(actual) * 1000 DIV count(1)").as("keep_permille"))
      val wBin = Window.orderBy(col("bin"))
      val mono = bins
        .withColumn("prev", lag(col("keep_permille"), 1).over(wBin))
        .agg(min(expr("IF(prev IS NULL, 1L, IF(keep_permille >= prev, 1L, 0L))"))
          .as("m"))
        .select((col("m") === 1L).as("calibration_monotone"))
      auc.crossJoin(lift).crossJoin(mono) // three 1-row legs
        .withColumn("released",
          col("auc_ppm") >= 600000L &&
            col("top_decile_lift_ppm") >= 1200000L &&
            col("calibration_monotone"))
    }),

    // TA24: KNESER-NEY BIGRAM LM (Kneser & Ney ICASSP'95, absolute
    // discount d = 0.75) — the smoothed LM behind ta14's quality
    // scoring, ESTIMATED DISTRIBUTED and held exactly rational: with
    // d = 3/4, P_kn(w2|w1) = (4·c12−3)/(4·c1) + λ·P_cont where
    // λ = 3·N1+(w1·)/(4·c1) and P_cont(w2) = N1+(·w2)/|bigram types|.
    // In ppm with ONE documented truncation per term:
    //   term1 = (4·c12−3)·250000 DIV c1          (c12 ≥ 1 ⇒ no clamp)
    //   λ_ppm = 750000·N1f DIV c1
    //   pcont = N1b·1000000 DIV B
    //   p_kn  = term1 + λ_ppm·pcont DIV 1000000
    // The novelty vs a raw MLE: continuation counts N1+ back off to
    // how many CONTEXTS a word completes, not how often it occurs.
    // Corpus-scale work: one bigram count aggregate + two distinct-
    // count rollups — the classic map-side-combinable shape; the
    // report is the top-3 continuations of the 5 heaviest contexts
    // (TakeOrdered 5 → broadcast, so the rank window sees ≤ 5
    // partitions of top-k rows).
    "ta24_kneser_ney" -> ((s, dir) => {
      val scored = knBigramLm(s, dir, topContexts = Some(5))
      // top-3 per context through the native salted LimitPerGroup
      // (q28b's shape) — a heavy context's continuation list never
      // sorts in one task; the final rank window sees ≤ 15 rows
      val salted = scored.withColumn("salt", pmod(xxhash64(col("w2")), lit(64L)))
      val phase1 = graft.plans.LimitPerGroup.limitPerGroup(salted,
        Seq("w1", "salt"), Seq("p_kn_ppm" -> false, "w2" -> true), 3)
      val phase2 = graft.plans.LimitPerGroup.limitPerGroup(phase1,
        Seq("w1"), Seq("p_kn_ppm" -> false, "w2" -> true), 3)
      phase2.withColumn("rank",
          row_number().over(Window.partitionBy(col("w1"))
            .orderBy(col("p_kn_ppm").desc, col("w2").asc)).cast("long"))
        .select(col("w1"), col("rank"), col("w2"), col("c12"), col("c1"),
          col("n1f"), col("n1b"), col("p_kn_ppm"))
    }),

    // TA26: PERPLEXITY FILTER — the CCNet/quality-LM curation step
    // ta24 builds the model for: every document is scored by its mean
    // per-bigram SURPRISAL under the corpus Kneser-Ney LM and gated
    // at a fixed cross-entropy budget (high-perplexity docs read as
    // noise against the corpus language). All exact integers:
    // surprisal of a bigram is floor(log2(1e6 / p_kn_ppm)) in
    // MILLI-BITS via the generated exponent+mantissa CASE literals
    // (log2ExpCase/log2FracCase — the dq4 transcendental trick, one
    // shared string so the oracle cannot drift), summed per doc and
    // divided once. Plan shape: the LM is bigram-TYPE-bounded so the
    // (w1, w2) join broadcasts under AQE at vocab scale and hash-
    // shuffles past it; doc bigrams flow through ONE explode — no
    // per-doc window, no float anywhere. The 4.8-bit keep threshold
    // sits at the corpus's median cross-entropy — a vocab-shape
    // constant, not a corpus-size one (mean surprisal is
    // scale-invariant under corpus replication — the ll6b/ts6
    // scale-free-threshold rule), and both engines compare the same
    // exact integer so the gate can never flake at the boundary.
    "ta26_perplexity_filter" -> ((s, dir) => {
      val lm = knBigramLmTable(s, dir).select(col("w1"), col("w2"), col("p_kn_ppm"))
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2), " +
            "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      bg.join(lm, Seq("w1", "w2"))
        // clamp the PROBABILITY, not the quotient: a p_kn_ppm that
        // floors to 0 (frequent context + singleton continuation at
        // web scale) must map to MAX surprisal (x = 1e6), not to the
        // minimum — and `1000000 DIV 0` is NULL (or throws under
        // ANSI), which greatest(1L, NULL) would silently turn into
        // surprisal 0, letting the noisiest docs through the gate
        .withColumn("x",
          expr("greatest(1L, 1000000 DIV greatest(1L, p_kn_ppm))"))
        .withColumn("e", expr(log2ExpCase))
        .withColumn("m", expr("(x * 8) DIV shiftleft(1L, CAST(e AS INT))"))
        .withColumn("s_mb", expr(s"CAST(e * 1000 + ($log2FracCase) AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("s_mb")).as("surprisal_mb"))
        .withColumn("mean_mb", expr("surprisal_mb DIV n_bigrams"))
        .withColumn("keep", col("mean_mb") <= 4800L)
    }),

    // BPE TOKENIZATION ROUND-TRIP — puts functions/Bpe on the
    // differential board (it was lib+spec-only through round 11):
    // train 40 merges on the corpus word-type table (ONE aggregate +
    // vocab-sized driver model — the r11-bounded contract), encode
    // every document through the broadcast dictionary, then verify
    // LOSSLESSNESS end-to-end: the md5 of the tokens re-concatenated
    // in order must equal the md5 of the space-stripped source text
    // (spaces are the tokenizer's word separator, the only character
    // class encode does not carry). BPE itself is not
    // SQL-expressible; the round-trip identity IS — any dropped,
    // reordered or corrupted token anywhere in train/encode breaks
    // the hash, and the token-count bound rides as a pinned boolean
    // (prof6's envelope pattern). At 100 TB: train = one word-count
    // shuffle; encode = explode + broadcast-dict lookup + one
    // doc-keyed reassembly.
    "ta22_bpe_roundtrip" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(length(regexp_replace(col("text"), " ", "")) > 0)
      val merges = graft.functions.Bpe.train(d, "text", k = 40)
      graft.functions.Bpe.encode(s, d, "doc_id", "text", merges)
        .join(d, "doc_id")
        .select(col("doc_id"),
          md5(expr("concat_ws('', tokens)")).as("decoded_md5"),
          (size(col("tokens")).cast("long") <=
            length(regexp_replace(col("text"), " ", ""))).as("tokens_le_chars"))
    }),

    // OVERLAPPING-WINDOW CHUNKING — the RAG-ingest / context-window
    // splitter: each document becomes 64-token chunks on a 48-token
    // stride (16-token overlap so no retrieval-relevant span is cut
    // without a copy that contains it whole). Pure per-document map +
    // explode — ZERO exchanges at any corpus size; chunk text is
    // pinned by md5 so the check covers the exact token slicing, not
    // just the arithmetic. Chunk starts are sequence(0, n-1, 48), so
    // every doc (even shorter than one window) emits >= 1 chunk and
    // the last chunk is the only short one.
    "rag1_chunk_overlap" -> ((s, dir) => {
      val win = 64; val stride = 48
      Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")).cast("long"))
        .withColumn("start",
          explode(expr(s"sequence(0L, greatest(n - 1, 0L), $stride)")))
        .withColumn("chunk", expr(s"slice(ws, CAST(start + 1 AS INT), $win)"))
        .select(col("doc_id"),
          (col("start") / stride).cast("long").as("chunk_id"),
          col("start").as("start_tok"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
    }),

    "ta7_pii_redact" -> ((s, dir) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "[0-9]{3}-[0-9]{4}"
      Tables.documents(s, dir)
        .withColumn("txt", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact_"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          regexp_count(col("txt"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("txt"), lit(phoneRe)).cast("long").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("txt"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
    }),

    // Unigram inverse-frequency rarity scoring — the shape of
    // LM-logprob quality scoring with the arithmetic kept EXACT: the
    // unigram model is the corpus word-count table (vocab-sized →
    // collected as model state, broadcast back, exactly like the
    // k-means centroids in ll4b), each token scores total DIV count
    // in integer arithmetic, and a document's rarity is the exact
    // integer sum — order-free, so no shuffle ordering can perturb
    // it. A production scorer would swap in -ln(c/total) per token;
    // the integer form is what makes the differential check bit-exact
    // across engines (libm ln is not correctly-rounded everywhere).
    "ta8_rarity_score" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val counts = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val total = counts.agg(sum(col("c"))).first().getLong(0) // model-sized
      words.join(broadcast(counts), "w")
        .withColumn("tok_rarity", expr(s"CAST(${total}L DIV c AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tok_rarity")).as("rarity_sum"),
          count(lit(1)).as("n_tokens"))
        .withColumn("avg_rarity", col("rarity_sum") / col("n_tokens"))
    }),

    // Deterministic STRATIFIED SAMPLING — the corpus-mixing step:
    // subsample each language stratum at its target rate (en at 2/4,
    // every other language at 1/4) by hashing the document id into 4
    // buckets. Hash-mod sampling is reproducible across reruns and
    // engines (no RNG state), composes under set union, and is a pure
    // narrow map — the 100 TB plan is a filtered scan, zero shuffles.
    "ta9_stratified_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("bucket",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long") % 4).as("bucket"))
        .withColumn("quota", when(col("lang") === "en", lit(2L)).otherwise(lit(1L)))
        .filter(col("bucket") < col("quota"))
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),

    // TA32: QUALITY-CLASSIFIER TRAINING — the library could INFER
    // with a model (ta10's fixed weight table), score with a trained
    // LM (ta26), and train k-means / IVF / PQ / BPE, but not train
    // the quality scorer itself. This is distributed batch gradient
    // descent for a LINEAR probe on hashed unigram features (k = 64
    // buckets), squared loss against ta2's rule verdict as the label
    // (y = 1000 keep / 0 flag, milli-units), diagonal-preconditioned
    // integer updates: per iteration, pred_i = Σ_{j∈doc} w_j,
    // grad_j = Σ_{i∋j} (pred_i − y_i),
    // w_j ← w_j − grad_j DIV (2·df_j·B) where B = max distinct
    // buckets per doc (the Lipschitz-safe step — see the helper)
    // — all exact int64, truncation toward zero in BOTH engines
    // (Scala `/` and DuckDB `//`; verified on negatives, the a10
    // convention). Scale shape is lloydRefine's trainer contract:
    // the feature table builds once (one corpus scan, persisted for
    // the 3 iterations, released after), each iteration is one
    // doc-grain shuffle (pred) + one bucket-bounded aggregate
    // (grad), and driver state is k longs — model-sized at any
    // corpus size. Output: per bucket df + the weight TRAJECTORY
    // (w1..w3) + per-iteration pre-update total absolute error
    // (sae1..sae3, conservation-style convergence evidence the
    // oracle checks bit-for-bit). The oracle unrolls all three
    // iterations in SQL — iteration 1 simplifies (w0 = 0 ⇒
    // err = −y), 2 and 3 replay the joins.
    "ta32_quality_trainer" -> ((s, dir) => trainQualityProbe(s, dir)),

    // EV14: TRAINED-PROBE EVALUATION — closes the loop ta32 opens:
    // the trained w3 scores every document (ta10's broadcast-model
    // inference shape, but with the model the library TRAINED rather
    // than a fixed table), the verdict thresholds at y/2 = 500
    // milli-units, and the confusion rollup scores it against the
    // ta2 rule it was fit to. One corpus feature scan + a 64-row
    // broadcast join + a doc-grain aggregate + a 1-row rollup;
    // accuracy in exact integer permille. The oracle replays ta32's
    // whole training chain (shared CTE constant) before scoring.
    "ev14_probe_eval" -> ((s, dir) => {
      val model = broadcast(probeModelTable(s, dir)
        .select(col("bucket"), col("w3")))
      val feats = withQualityVerdict(
          Tables.documents(s, dir).withColumn("ws", split(col("text"), " ")))
        .select(col("doc_id"),
          when(col("verdict") === "keep", 1L).otherwise(0L).as("is_keep"),
          explode(array_distinct(expr(
            "transform(ws, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 64)")))
            .as("bucket"))
      feats.join(model, "bucket")
        .groupBy(col("doc_id"), col("is_keep"))
        .agg(sum(col("w3")).as("score"))
        .withColumn("pred_keep", when(col("score") > 500L, 1L).otherwise(0L))
        .agg(
          sum(col("pred_keep") * col("is_keep")).as("tp"),
          sum(col("pred_keep") * (lit(1L) - col("is_keep"))).as("fp"),
          sum((lit(1L) - col("pred_keep")) * col("is_keep")).as("fn"),
          sum((lit(1L) - col("pred_keep")) * (lit(1L) - col("is_keep"))).as("tn"),
          expr("CAST(SUM(CASE WHEN pred_keep = is_keep THEN 1 ELSE 0 END) * 1000 " +
            "DIV COUNT(*) AS BIGINT)").as("accuracy_permille"))
    }),

    // TA31: CODE-SWITCHING DETECTOR — the multilingual-curation gate
    // ta1 can't express: ta1 picks ONE language per document; this
    // flags documents whose stopword evidence is split across TWO
    // language families (mixed-language web pages — boilerplate
    // chrome in one language around content in another — which
    // multilingual pipelines route to a separate bucket or drop).
    // Rule: secondary-family hits >= 3 AND >= 30% of the primary
    // family's (integer cross-multiplication, no division). Like
    // ta7's planted PII, the fixture plants the condition: doc_id %
    // 23 = 4 gains a German boilerplate tail, % 29 = 11 a French one
    // (the generated corpus is monolingual-ish by construction).
    // Pure narrow map — zero exchanges before the final ledger.
    "ta31_code_switch" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("txt", concat(col("text"),
          when(col("doc_id") % 23 === 4,
            lit(" der die das und der die das und")).otherwise(lit("")),
          when(col("doc_id") % 29 === 11,
            lit(" le et le et la le et")).otherwise(lit(""))))
        .withColumn("ws", split(col("txt"), " "))
      val scored = stopwords.foldLeft(d) { case (df, (lang, words)) =>
        df.withColumn(s"s_$lang",
          expr(s"CAST(size(filter(ws, w -> w IN ${inList(words)})) AS BIGINT)"))
      }
      val langs = stopwords.map(_._1)
      val best = greatest(langs.map(l => col(s"s_$l")): _*)
      val primary = langs.reverse.foldLeft(lit("unknown")) { case (acc, l) =>
        when(best > 0 && col(s"s_$l") === best, lit(l)).otherwise(acc)
      }
      val second = langs.map(l =>
        when(col("primary") =!= l, col(s"s_$l")).otherwise(lit(0L)))
        .reduce((a, b) => greatest(a, b))
      scored
        .withColumn("primary", primary)
        .withColumn("sec_hits", second)
        .withColumn("secondary", langs.reverse.foldLeft(lit("none")) {
          case (acc, l) =>
            when(col("sec_hits") > 0 && col("primary") =!= l &&
              col(s"s_$l") === col("sec_hits"), lit(l)).otherwise(acc)
        })
        .withColumn("mixed",
          col("sec_hits") >= 3L && col("sec_hits") * 10L >= best * 3L)
        .filter(col("mixed"))
        .select(col("doc_id"), col("primary").as("primary_lang"),
          col("secondary").as("secondary_lang"),
          best.as("primary_hits"), col("sec_hits"))
    }),

    // TA30: MIXTURE-WEIGHT DESIGN — the step BEFORE ta9's fixed-rate
    // sampler: temperature reweighting (τ = 0.5, the mBERT/XLM-R
    // multilingual recipe: p_s ∝ share_s^τ) computes the per-stratum
    // sampling design from the corpus' own token shares, flattening
    // the head (en downsamples) and lifting the tail (zh oversamples).
    // All exact integers: shares in ppm via DECIMAL-promoted DIV
    // (token counts at 100 TB overflow a LONG when scaled), share^0.5
    // via a Newton-guarded integer sqrt (a bare floor(sqrt(double))
    // can flip at perfect-square boundaries across engines), weights
    // renormalized in ppm, and rate_ppm = target/share — the
    // over/undersampling factor a dataloader applies. Plan: one
    // corpus aggregate + two 1-row scalar broadcasts; the design
    // table is strata-sized at any corpus size.
    "ta30_mixture_weights" -> ((s, dir) => {
      val byLang = Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val tot = byLang.agg(sum(col("n_tokens")).as("tot"))
      val shared = byLang.crossJoin(broadcast(tot)) // 1-row scalar, rule (b)
        .withColumn("share_ppm",
          expr("CAST(CAST(n_tokens AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)"))
        .withColumn("r0",
          expr("CAST(floor(sqrt(CAST(share_ppm AS DOUBLE))) AS BIGINT)"))
        .withColumn("w", expr(
          "CASE WHEN (r0 + 1) * (r0 + 1) <= share_ppm THEN r0 + 1 " +
            "WHEN r0 * r0 > share_ppm THEN r0 - 1 ELSE r0 END"))
      val wsum = shared.agg(sum(col("w")).as("wsum"))
      shared.crossJoin(broadcast(wsum))
        .withColumn("target_ppm", expr("w * 1000000L DIV greatest(1L, wsum)"))
        .withColumn("rate_ppm",
          expr("target_ppm * 1000000L DIV greatest(1L, share_ppm)"))
        .withColumn("oversampled", col("rate_ppm") > 1000000L)
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("share_ppm"),
          col("target_ppm"), col("rate_ppm"), col("oversampled"))
    }),

    // Model-based quality classification — fastText-shaped inference
    // (Joulin et al. 2016, arXiv:1607.01759): features are hashed word
    // unigrams + adjacent bigrams (feature hashing into 256 buckets),
    // the "trained" model is a bucket -> integer-weight table
    // (deterministically derived here; a real training run would only
    // change the table's VALUES, not this plan), and a document's
    // score is the exact integer sum of its features' weights. The
    // model rides a BROADCAST hash join — at 100 TB inference is one
    // codegen'd feature map over text plus a broadcast lookup; the
    // only shuffle is the per-doc score aggregation, and the model
    // table scales with vocabulary buckets, not corpus size.
    "ta10_quality_classifier" -> ((s, dir) => {
      val k = 256
      val weights = s.range(k).select(col("id").as("bucket"),
        (conv(substring(md5(concat(lit("w"), col("id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000).as("w"))
      val feats = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "concat(ws, IF(size(ws) >= 2, " +
            "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1])), " +
            "CAST(array() AS ARRAY<STRING>)))")).as("f"))
        .withColumn("bucket",
          conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % k)
      feats.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("score"), count(lit(1)).as("n_feats"))
        .withColumn("verdict",
          when(col("score") > 0, lit("keep")).otherwise(lit("drop")))
    }),

    // EV8: CLASSIFIER CALIBRATION (reliability diagram) — the eval
    // an operator runs before trusting ta10's scores as a curation
    // gate: ta10's integer score deciled into 10 equal-width bins
    // (exact integer bucket arithmetic off a broadcast 1-row min/max,
    // prof5's shape), each bin scored against ta2's independent
    // rule-based verdict as the reference label; a well-calibrated
    // classifier shows keep-rate rising monotonically with score.
    // Completes the eval family (ev1-ev7) with the ML-quality leg.
    // Corpus-scale work = the two existing pipelines' aggregates +
    // one bin rollup; everything else is broadcast.
    "ev8_classifier_calibration" -> ((s, dir) => {
      val st = scoredTruth(s, dir)
      val mm = st.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
      st
        .crossJoin(broadcast(mm)) // 1-row scalar, rule (b)'s shape
        .withColumn("bin", expr("(score - lo) * 10 DIV (hi - lo + 1)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("actual")).as("n_keep"),
          min(col("score")).as("score_lo"), max(col("score")).as("score_hi"))
        .withColumn("keep_permille", expr("n_keep * 1000 DIV n_docs"))
    }),

    // EV9: ROC AUC, EXACT AND TIE-AWARE (Mann-Whitney U with average
    // ranks) — the threshold-free companion to ev8's calibration bins:
    // AUC = P(score_pos > score_neg) + ½P(tie), computed from the
    // SCORE HISTOGRAM, never a per-document global rank: group docs by
    // exact integer score, then each distinct score's average rank is
    // cum_before + (n+1)/2 — held in HALF-UNITS (rank2 = 2·cum_before
    // + n + 1) so everything stays integer; the rank-mass sum
    // accumulates in DECIMAL(38) (the per-row product p·2N overflows
    // a long before the final division does — DuckDB widens SUM to
    // HUGEINT, so plain BIGINT would diverge silently exactly at
    // scale) and the final scalar division runs in DECIMAL(38)
    // (npos·nneg·1e6 overflows a long at
    // web scale). The prefix over distinct scores is the ev8/prof5
    // two-level shape: a 4096-wide coarse-bucket table (score-RANGE-
    // bounded, not corpus-bounded) takes the one single-partition
    // window; per-score cumsums stay bucket-partitioned. Trunc-div
    // bucketing is monotone in the score, so no sign offset is needed.
    "ev9_auc" -> ((s, dir) => {
      val fine = scoredTruth(s, dir)
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("actual")).as("p"))
        .withColumn("cb", expr("score DIV 4096"))
      val wCoarse = Window.orderBy(col("cb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val coarse = fine.groupBy(col("cb")).agg(sum(col("n")).as("bn"))
        .withColumn("prefix", coalesce(sum(col("bn")).over(wCoarse), lit(0L)))
        .select(col("cb"), col("prefix"))
      val wLocal = Window.partitionBy(col("cb")).orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      fine
        .withColumn("local_before", coalesce(sum(col("n")).over(wLocal), lit(0L)))
        .join(coarse, "cb")
        .withColumn("cum_before", col("prefix") + col("local_before"))
        .agg(sum(expr("CAST(p AS DECIMAL(38,0)) * (2 * cum_before + n + 1)")).as("rpos2"),
          sum(col("p")).as("npos"), sum(expr("n - p")).as("nneg"))
        .withColumn("auc_ppm", expr(
          "IF(npos = 0 OR nneg = 0, 0L, CAST(" +
            "(CAST(rpos2 AS DECIMAL(38,0)) - CAST(npos AS DECIMAL(38,0)) * (npos + 1)) " +
            "* 1000000 DIV (2 * CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT))"))
        .select(col("npos"), col("nneg"), col("auc_ppm"))
    }),

    // EV10: CUMULATIVE GAIN / LIFT TABLE — the "how deep do I curate"
    // read of ta10's classifier: docs deciled by score DESCENDING and
    // each decile scored by cumulative keep-capture (gain) and lift
    // over the base rate. HISTOGRAM-PURE (r12 verdict #3): the tie
    // order within a score is (actual, doc_id), so each
    // (score, actual) histogram row owns a CONTIGUOUS ascending-rank
    // interval [cum_before+1, cum_before+n] — no window ever
    // enumerates raw docs (the old per-score-bucket row_number held a
    // corpus fraction when scores concentrate in one 4096-bucket).
    // Decile membership is integer interval algebra: ranks in decile
    // d are those with (n_total - r)*10 DIV n_total = d, i.e.
    // r ∈ [n_total - ((d+1)·N - 1) DIV 10, n_total - (d·N + 9) DIV 10],
    // so a histogram row explodes into its ≤ 10 overlapping deciles
    // with an arithmetic overlap count. The two-level prefix keeps
    // the single-partition window score-RANGE-bounded (4096-wide
    // coarse buckets); per-(score,actual) cumsums stay
    // bucket-partitioned. Lift cross-multiplies in DECIMAL(38)
    // (cum_pos · N · 1e6 overflows a long at web scale).
    "ev10_lift_gain" -> ((s, dir) => {
      val fine = scoredTruth(s, dir)
        .groupBy(col("score"), col("actual"))
        .agg(count(lit(1)).as("n"))
        .withColumn("cb", expr("score DIV 4096"))
      val wCoarse = Window.orderBy(col("cb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val coarse = fine.groupBy(col("cb")).agg(sum(col("n")).as("bn"))
        .withColumn("prefix", coalesce(sum(col("bn")).over(wCoarse), lit(0L)))
        .select(col("cb"), col("prefix"))
      val wLocal = Window.partitionBy(col("cb"))
        .orderBy(col("score"), col("actual"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nTotal = scoredTruth(s, dir).agg(count(lit(1)).as("n_total"),
        sum(col("actual")).as("tot_pos"))
      val wDecile = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, 0)
      fine
        .withColumn("local_before", coalesce(sum(col("n")).over(wLocal), lit(0L)))
        .join(coarse, "cb")
        .crossJoin(broadcast(nTotal)) // 1-row scalar, rule (b)'s shape
        .withColumn("lo", col("prefix") + col("local_before") + 1)
        .withColumn("hi", col("prefix") + col("local_before") + col("n"))
        .withColumn("decile", explode(expr(
          "sequence((n_total - hi) * 10 DIV n_total, (n_total - lo) * 10 DIV n_total)")))
        .withColumn("r_lo", expr("n_total - ((decile + 1) * n_total - 1) DIV 10"))
        .withColumn("r_hi", expr("n_total - (decile * n_total + 9) DIV 10"))
        .withColumn("cnt", expr("least(hi, r_hi) - greatest(lo, r_lo) + 1"))
        .groupBy(col("decile"))
        .agg(sum(col("cnt")).as("n_docs"), sum(expr("actual * cnt")).as("n_pos"),
          max(col("n_total")).as("n_total"), max(col("tot_pos")).as("tot_pos"))
        .withColumn("cum_docs", sum(col("n_docs")).over(wDecile))
        .withColumn("cum_pos", sum(col("n_pos")).over(wDecile))
        .withColumn("gain_permille", expr("cum_pos * 1000 DIV tot_pos"))
        .withColumn("lift_ppm", expr(
          "CAST(CAST(cum_pos AS DECIMAL(38,0)) * n_total * 1000000 " +
            "DIV (CAST(cum_docs AS DECIMAL(38,0)) * tot_pos) AS BIGINT)"))
        .select(col("decile"), col("n_docs"), col("n_pos"), col("cum_docs"),
          col("cum_pos"), col("gain_permille"), col("lift_ppm"))
    }),

    // EV12: CORPUS BLEU PRECISION LEGS — the generated-text side of
    // the eval family (ev1–11 score classifiers/rankers; this scores
    // GENERATIONS against references): corpus-level MODIFIED n-gram
    // precision (Papineni et al. 2002) for n = 1..3 — per doc, each
    // candidate n-gram's credit is clipped at the reference's count
    // of that gram (Σ min(c_cand, c_ref) / Σ c_cand), then summed
    // over the corpus before the one division, all exact integers in
    // ppm. Two planted "model outputs" make the metric's design
    // point CHECKABLE: a suffix copy (first word dropped) keeps
    // every n-gram order-intact — precision 1e6 at every n — while a
    // sorted bag-of-words keeps the unigram MULTISET (unigram
    // precision 1e6) but destroys order, so the n=2/3 legs collapse;
    // any engine bug that ignores clipping or order shows as a
    // diverging row. Plan shape: BLEU clipping is ROW-LOCAL — the
    // candidate and its reference derive from the same row's word
    // array, so clipped matches are an in-array fold (for each
    // distinct candidate gram, min of its count in cand and in ref),
    // O(len²) CPU per doc and ZERO exchanges until the final 6-group
    // rollup. The previous (doc, n, gram)-keyed shuffle join moved
    // |grams| ≈ 3·|corpus words| rows per side through the exchange
    // to compute something each row already had locally — at 100 TB
    // this form is a map-only pass; the r13 bench's heaviest query
    // drops ~3.5× with it.
    "ev12_bleu_precision" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("rws"))
        .filter(size(col("rws")) >= 4) // shifted cand must still hold a trigram
      val cands = docs.select(col("rws"), lit("shifted").as("model"),
          expr("slice(rws, 2, size(rws) - 1)").as("cws"))
        .unionByName(docs.select(col("rws"), lit("sorted").as("model"),
          array_sort(col("rws")).as("cws")))
      cands
        .withColumn("n", explode(array(lit(1), lit(2), lit(3))))
        // gram arrays MATERIALIZE as row columns before the fold —
        // referencing the transform inside the per-gram lambda would
        // rebuild it per distinct gram (O(len³) per doc, not O(len²))
        .withColumn("cg", expr("transform(sequence(0, size(cws) - n), " +
          "i -> concat_ws(' ', slice(cws, i + 1, n)))"))
        .withColumn("rg", expr("transform(sequence(0, size(rws) - n), " +
          "i -> concat_ws(' ', slice(rws, i + 1, n)))"))
        .withColumn("matched", expr(
          "aggregate(array_distinct(cg), 0L, (acc, g) -> acc + least(" +
            "size(filter(cg, x -> x = g)), size(filter(rg, x -> x = g))))"))
        .groupBy(col("model"), col("n").cast("long").as("n"))
        .agg(sum(col("matched")).as("matched_ngrams"),
          sum(size(col("cg")).cast("long")).as("cand_ngrams"),
          sum(size(col("rg")).cast("long")).as("ref_ngrams"))
        .select(col("model"), col("n"),
          col("matched_ngrams"), col("cand_ngrams"), col("ref_ngrams"),
          expr("matched_ngrams * 1000000L DIV cand_ngrams").as("precision_ppm"))
    }),

    // Temperature-weighted DOMAIN MIXING — the multi-source sampling
    // step of a training-data pipeline (alpha = 0.5 upsampling of
    // small domains, the multilingual-LM recipe): each language
    // stratum gets a quota proportional to sqrt(its document count),
    // filled by the stratum's lowest-md5 documents, so the mix is
    // reproducible across runs and engines and composes under union.
    // Quota arithmetic is exact integer (floor(sqrt) weights, integer
    // cross-multiplication over an integer weight total — no
    // float-sum ordering anywhere); the per-stratum weights are
    // model-sized driver state exactly like ta8's unigram total.
    // Ranking is BOUNDARY-SLICE: documents are bucketed by a hex
    // prefix of their md5 order key whose LENGTH adapts to the
    // largest stratum (enough hex chars that bucket count ≈
    // sqrt(stratum), so each (lang,bucket) ranking partition AND the
    // per-lang prefix window both hold ~sqrt(n) rows); per-
    // (lang,bucket) totals feed the prefix window, and any bucket
    // whose prefix already meets the quota is DROPPED before the
    // ranking window ever runs — only the sub-quota slice is ranked.
    // The sqrt(n)-sized prefix table gets no forced broadcast hint
    // (AQE broadcasts while small, hash-joins beyond). The rank each
    // document gets (prefix + local row_number over the md5 key) is
    // bit-identical to the old full-stratum window's, so the
    // exact-quota semantics and the oracle are unchanged.
    "ta11_domain_mix" -> ((s, dir) => {
      val counts = Tables.documents(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val target = counts.map(_._2).sum / 2
      val wts = counts.map { case (l, n) => (l, math.sqrt(n.toDouble).toLong) }
      val wsum = wts.map(_._2).sum
      val quotas = wts.map { case (l, w) => (l, target * w / wsum) }
      val maxN = counts.map(_._2).max
      val hexChars = math.min(8, math.max(2,
        math.ceil(math.log(math.sqrt(maxN.toDouble)) / math.log(16.0)).toInt))
      import s.implicits._
      val qdf = quotas.toDF("lang", "quota")
      val d = Tables.documents(s, dir)
        .withColumn("hkey", md5(col("doc_id").cast("string")))
        .withColumn("hb", conv(substring(col("hkey"), 1, hexChars), 16, 10).cast("long"))
      val wPrefix = Window.partitionBy(col("lang")).orderBy(col("hb"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = d.groupBy(col("lang"), col("hb")).agg(count(lit(1)).as("bn"))
        .withColumn("pfx", coalesce(sum(col("bn")).over(wPrefix), lit(0L)))
        .join(qdf, "lang")
        .select(col("lang"), col("hb"), col("pfx"), col("quota"))
      val wLocal = Window.partitionBy(col("lang"), col("hb"))
        .orderBy(col("hkey"), col("doc_id"))
      d.join(prefix, Seq("lang", "hb"))
        .filter(col("pfx") < col("quota")) // boundary-slice pre-filter
        .withColumn("rk", col("pfx") + row_number().over(wLocal).cast("long"))
        .filter(col("rk") <= col("quota"))
        .select(col("doc_id"), col("lang"), col("rk"), col("quota"))
    }),

    // Bigram conditional rarity — the 2-gram upgrade of ta8's unigram
    // scorer, the shape of LM-perplexity quality filtering with the
    // arithmetic kept EXACT: each token scores c(prev) DIV c(prev, w)
    // (the integer reciprocal of the bigram conditional probability —
    // surprising continuations score high), and a document's score is
    // the exact integer sum. Bigram pairs come from one narrow
    // array-transform + explode (no ordering window touches the
    // corpus); the bigram count model is vocab²-sized, joined back on
    // (prev, w) — AQE broadcasts it while it fits and falls back to a
    // hash join at real vocabulary sizes, where a broadcast would not.
    "ta12_bigram_rarity" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS p, ws[i+1] AS w))"))
          .as("b"))
        .select(col("doc_id"), col("b.p").as("p"), col("b.w").as("w"))
      val c2 = bg.groupBy(col("p"), col("w")).agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy(col("p")).agg(count(lit(1)).as("c1"))
      bg.join(c2, Seq("p", "w")).join(c1, Seq("p"))
        .withColumn("tok_score", expr("CAST(c1 DIV c2 AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tok_score")).as("rarity_sum"), count(lit(1)).as("n_bigrams"))
        .withColumn("avg_rarity", col("rarity_sum") / col("n_bigrams"))
    }),

    // Deterministic EPOCH SHUFFLE — the training-order permutation
    // step: each epoch reorders the corpus by a pseudorandom but
    // reproducible key (md5 of epoch:doc_id), sharded so no global
    // sort ever runs: the order key hashes docs into shards
    // (data-loader workers), and ranking windows run per (epoch,
    // shard) — at 100 TB each shard sorts independently, and two
    // epochs produce provably different, replayable permutations.
    // Deterministic train/val/test SPLIT assignment — hash-of-id mod
    // 100 (<80/<90/else), the reproducible-split rule every dataset
    // release needs: membership is a pure function of the document id
    // (stable under re-runs, reshards and corpus growth), stratification
    // is audited per source, and ll22 reuses the same rule to audit
    // near-dup leakage ACROSS the splits. Map-side expression + one
    // (source, split) aggregate.
    "ta15_split_assignment" -> ((s, dir) => {
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(100L))
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
    }),

    // LM-based quality scoring — the CCNet-style perplexity filter
    // (Wenzek et al., LREC 2020: score documents by a reference-corpus
    // n-gram LM; high bits-per-token = out-of-domain/garbled). A
    // bigram LM with add-one smoothing is trained on the reference
    // subset (doc_id % 5 = 0) and every document is scored as
    //   Σ [ilog2(c(w1) + V) - ilog2(c(w1,w2) + 1)]   bits,
    // where ilog2(x) = floor(log2 x) = length(bin(x)) - 1 — EXACT
    // integer arithmetic, so the oracle replays the model bit-for-bit
    // (float log would diverge across libm implementations). V
    // (reference vocabulary size) is a driver-side scalar, a planner
    // statistic like the z-order min/max. Scale shape: the LM is two
    // count tables joined back by (w1) and (w1,w2) hash joins — the
    // corpus side shuffles once per key; in production the pruned LM
    // table broadcasts.
    "ta14_lm_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def bigrams(df: DataFrame): DataFrame = df
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val ref = docs.filter(col("doc_id") % 5 === 0)
      val refBi = bigrams(ref).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      val refUni = ref.withColumn("w1", explode(split(col("text"), " ")))
        .groupBy(col("w1")).agg(count(lit(1)).as("cu"))
      val vocab = refUni.count() // reference vocab size: model-sized scalar
      def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")
      bigrams(docs)
        .join(refUni, Seq("w1"), "left")
        .join(refBi, Seq("w1", "w2"), "left")
        .withColumn("bits",
          ilog2(coalesce(col("cu"), lit(0L)) + lit(vocab)) -
            ilog2(coalesce(col("cb"), lit(0L)) + lit(1L)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
        .withColumn("bits_per_token",
          col("total_bits").cast("double") / col("n_bigrams").cast("double"))
    }),

    // CURRICULUM ordering — the short-to-long schedule curriculum
    // training uses: documents phase by token-count difficulty bands,
    // with ta13's deterministic md5 shuffle WITHIN each phase so a
    // phase's internal order is unbiased but reproducible. Rank
    // partitions are (phase, shard) with the shard count scaling as
    // corpus/250 (ta13's bounded-sort discipline) — no global sort,
    // no single-partition window. A training loader consumes rows in
    // (phase, shard, ord) order.
    "ta21_curriculum" -> ((s, dir) => {
      val shards = math.max(8L, Tables.countStat(s, dir, "documents") / 250L)
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("phase",
          when(col("n_tokens") <= 20L, 0L).when(col("n_tokens") <= 50L, 1L)
            .when(col("n_tokens") <= 100L, 2L).otherwise(3L))
        .withColumn("okey",
          md5(concat(col("phase").cast("string"), lit(":"), col("doc_id").cast("string"))))
        .withColumn("shard",
          (conv(substring(col("okey"), 1, 8), 16, 10).cast("long") % shards))
      val w = Window.partitionBy(col("phase"), col("shard"))
        .orderBy(col("okey"), col("doc_id"))
      keyed.withColumn("ord", row_number().over(w).cast("long"))
        .select(col("phase"), col("shard"), col("ord"), col("doc_id"), col("n_tokens"))
    }),

    "ta13_epoch_shuffle" -> ((s, dir) => {
      val epochs = 2
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      // shard count scales with the corpus (~250 docs per
      // (epoch, shard) ranking partition, floor 8) so the per-shard
      // sort stays bounded as the corpus grows — the r6 watch item.
      // One column-pruned count (parquet-statistics cheap); the oracle
      // derives the same value with a scalar subquery.
      val shards = math.max(8L, docs.count() / 250L)
      val e = s.range(epochs).select(col("id").as("epoch"))
      val keyed = docs.crossJoin(broadcast(e))
        .withColumn("okey",
          md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
        .withColumn("shard",
          (conv(substring(col("okey"), 1, 8), 16, 10).cast("long") % shards).as("shard"))
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("okey"), col("doc_id"))
      keyed.withColumn("ord", row_number().over(w).cast("long"))
        .select(col("epoch"), col("shard"), col("ord"), col("doc_id"))
    }),

    // Winnowing fingerprint: md5 of word bigrams, min-hash per sliding
    // window of 4 positions, distinct mins = the document fingerprint.
    "ta4_fingerprint" -> ((s, dir) => {
      val grams = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, size(ws) - 2), i -> md5(concat_ws(' ', ws[i], ws[i+1])))"))
            .as(Seq("pos", "h")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, 3)
      val n = Window.partitionBy(col("doc_id"))
      grams
        .withColumn("fp", min(col("h")).over(w))
        .withColumn("n_grams", count(lit(1)).over(n))
        .filter(col("pos") <= col("n_grams") - 4)
        .select(col("doc_id"), col("fp")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"))
    }),

    // DSIR-style IMPORTANCE RESAMPLING (Xie et al., NeurIPS 2023,
    // arXiv:2302.03169): select raw-corpus documents that look like a
    // target domain by the log-likelihood ratio of two hashed
    // bag-of-unigrams models — see `dsirScore`. Target slice = the
    // en-labeled documents. NOTE: the gate corpus draws every language
    // from one shared 31-word vocabulary, so target/raw ratios are
    // near-constant and the oracle mostly verifies the scoring
    // arithmetic; the discriminative behavior (target-vocab docs score
    // above off-target ones) is pinned on a two-domain fixture in
    // CurationOpsSpec.
    "ta17_dsir_sample" -> ((s, dir) =>
      dsirScore(Tables.documents(s, dir), col("lang") === "en")),

    // Character-bigram ENTROPY quality filter — the compressibility
    // heuristic of C4/RefinedWeb-era cleaning (low-entropy text =
    // boilerplate, keyboard mash, repeated fragments). The entire
    // computation is ROW-LOCAL: bigrams, counts (via array_sort +
    // run-length boundaries), and the fixed-point entropy
    //   sum_g c_g * (ilog2(n) - ilog2(c_g))   [integer "bits"]
    // run inside one codegen'd projection with higher-order array
    // functions — ZERO exchanges in the plan (pinned in PlanSpec), so
    // at 100 TB it is a pure scan: no shuffle, no window, no state.
    // verdict flags docs whose average per-bigram entropy is under 2
    // bits (entropy_bits < 2n, integer compare; empty docs flag).
    "ta18_entropy_quality" -> ((s, dir) => {
      withCharBigramEntropy(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          col("entropy_bits"), col("verdict"))
    })
  )

  /** ta18's row-local entropy stage (needs `text`); public for the
    * composed pipelines and the hand-computed spec fixtures.
    */
  def withCharBigramEntropy(df: DataFrame): DataFrame = {
    df
        .withColumn("bg", expr(
          "CASE WHEN length(text) >= 2 THEN " +
            "transform(sequence(0, length(text) - 2), i -> substring(text, i + 1, 2)) " +
            "ELSE CAST(array() AS ARRAY<STRING>) END"))
        .withColumn("n_bigrams", size(col("bg")).cast("long"))
        .withColumn("srt", array_sort(col("bg")))
        // run-END indices in the sorted array; sequence() bounds are
        // guarded (sequence(0, -1) descends in Spark) and every index
        // the lambdas touch is in range (ANSI mode throws otherwise)
        .withColumn("ends", expr(
          "CASE WHEN size(srt) = 0 THEN CAST(array() AS ARRAY<INT>) " +
            "WHEN size(srt) = 1 THEN array(0) " +
            "ELSE concat(filter(sequence(0, size(srt) - 2), i -> srt[i] != srt[i + 1]), " +
            "array(size(srt) - 1)) END"))
        .withColumn("cnts", expr(
          "CASE WHEN size(ends) = 0 THEN CAST(array() AS ARRAY<INT>) " +
            "ELSE transform(sequence(0, size(ends) - 1), " +
            "j -> ends[j] - (CASE WHEN j = 0 THEN -1 ELSE ends[j - 1] END)) END"))
        .withColumn("entropy_bits", expr(
          "aggregate(cnts, 0L, (acc, c) -> acc + CAST(c AS BIGINT) * " +
            "((length(bin(n_bigrams)) - 1) - (length(bin(CAST(c AS BIGINT))) - 1)))"))
        .withColumn("n_distinct", size(col("ends")).cast("long"))
        .withColumn("verdict",
          when(col("n_bigrams") === 0L || col("entropy_bits") < col("n_bigrams") * 2L,
            lit("flag")).otherwise(lit("keep")))
        .drop("bg", "srt", "ends", "cnts")
  }

  /** floor(4*log2(x)) — the quarter-bit fixed-point log the DSIR
    * ratio needs (whole-bit floor-log2 collapses near-constant ratios
    * to 0). Exact integer arithmetic, overflow-safe at any corpus
    * size: normalize x down to <= 15 bits (deterministic truncation,
    * identical in both engines), take the 4th power (< 2^60),
    * floor-log2 it, shift back by 4*s. SQL form for the DuckDB
    * oracle; [[q4At]] is the driver-side twin the engine applies to
    * the collected model rows.
    */
  private[operators] def q4Duck(x: String): String = {
    val s = s"GREATEST(0, length(bin($x)) - 15)"
    val m = s"(($x) >> ($s))"
    s"(length(bin($m * $m * $m * $m)) - 1 + 4 * ($s))"
  }

  /** Driver-side twin of [[q4Duck]]. x >= 1. */
  private[operators] def q4At(x: Long): Long = {
    val e = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val s = math.max(0L, e - 14L)
    val m = x >> s
    (63L - java.lang.Long.numberOfLeadingZeros(m * m * m * m)) + 4L * s
  }

  /** DSIR importance scoring (Xie et al. 2023): features are word
    * unigrams hashed into 512 buckets; the target model counts tokens
    * of the `isTarget` slice, the raw model the whole input, and a
    * document's weight is the exact integer sum over its tokens of
    *   q4(ct(b)+1) - q4(cr(b)+1) + q4(Nraw) - q4(Ntgt)
    * (quarter-bit floor-log2 of DSIR's log p_tgt - log p_raw, add-1
    * smoothed). Selection keeps weight_bits >= 0 (importance >= 1).
    * Plan at 100 TB: both models are 512-row aggregates riding a
    * BROADCAST join onto one token stream; the only corpus-scale
    * shuffle is the per-doc weight sum. Nraw/Ntgt are model-sized
    * driver scalars (one count aggregate; the oracle derives the same
    * values with scalar subqueries).
    */
  def dsirScore(docs: DataFrame, isTarget: Column): DataFrame = {
    val spark = docs.sparkSession
    val nBuckets = 512
    val tok = docs
      .select(col("doc_id"), isTarget.as("is_tgt"), explode(split(col("text"), " ")).as("w"))
      .withColumn("bucket",
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % nBuckets)
      .select(col("doc_id"), col("is_tgt"), col("bucket"))
    // one corpus scan builds the <=512-row bucket-count model (raw +
    // target counts in a single aggregate); it is model-sized, so it
    // collects and the ratio bits compute driver-side with the same
    // integer q4 arithmetic the oracle replays. The scoring pass below
    // is then the ONLY other corpus scan — probe + per-doc sum.
    val bucketRows = tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"))
      .collect()
    val nr = bucketRows.map(_.getLong(1)).sum
    val nt = bucketRows.map(_.getLong(2)).sum
    require(nt > 0L, "empty target slice: the target model needs tokens")
    val shift = q4At(nr) - q4At(nt)
    val model = {
      val sess = spark
      import sess.implicits._
      bucketRows.toSeq
        .map(r => (r.getLong(0), q4At(r.getLong(2) + 1L) - q4At(r.getLong(1) + 1L) + shift))
        .toDF("bucket", "bits")
    }
    tok.join(broadcast(model), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("weight_bits"))
      .withColumn("selected", col("weight_bits") >= 0L)
  }

  val oracles: Map[String, String] = Map(
    // the SAME replace chain, generated from the same constant
    "ta27_tokenizer_fertility" ->
      s"""WITH words AS (SELECT lang, doc_id, w
             FROM (SELECT lang, doc_id,
                     unnest(string_split(text, ' ')) AS w FROM documents)
             WHERE w <> ''),
          toks AS (SELECT lang, doc_id, w,
                     CAST(length(${ta27Chain("w")}) AS BIGINT) AS tok_n
                   FROM words),
          agg AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
                    COUNT(*) AS n_words,
                    CAST(SUM(length(w)) AS BIGINT) AS n_bytes,
                    CAST(SUM(tok_n) AS BIGINT) AS n_tokens
                  FROM toks GROUP BY 1)
          SELECT lang, n_docs, n_words, n_bytes, n_tokens,
            n_tokens * 1000 // n_words AS tokens_per_1k_words,
            n_bytes * 1000 // n_tokens AS bytes_per_1k_tokens
          FROM agg""",
    "ts7_pmi_collocations" ->
      s"""WITH bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
             FROM (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
                  unnest(range(len(ws) - 1)) AS t(i)),
          cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY 1, 2),
          cx AS (SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY 1),
          cy AS (SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM cxy GROUP BY 1),
          nt AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM cxy),
          r AS (SELECT w1, w2, c_xy, c_x, c_y,
              CAST(CAST(c_xy AS HUGEINT) * n_bigrams * 1000000
                // (CAST(c_x AS HUGEINT) * c_y) AS BIGINT) AS x
            FROM cxy JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN nt
            WHERE c_xy * 100000 >= n_bigrams),
          e1 AS (SELECT *, $log2ExpCaseWide AS e FROM r),
          m1 AS (SELECT *, (x * 8) // (1::BIGINT << CAST(e AS INT)) AS m FROM e1)
          SELECT w1, w2, c_xy, c_x, c_y,
            CAST(e * 1000 + ($log2FracCase) - 19906 AS BIGINT) AS pmi_mb
          FROM m1
          ORDER BY pmi_mb DESC, w1, w2 LIMIT 20""",
    // naive replay: the oracle MAY sort (it never scales); batch
    // membership by row_number over (len) — padding is invariant to
    // tie order, which is exactly why the engine's histogram algebra
    // is exact
    "ta29_padding_waste" ->
      """WITH lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS len
             FROM documents),
          arr AS (SELECT doc_id // 16 AS b, COUNT(*) AS cnt,
                    MAX(len) AS mx, CAST(SUM(len) AS BIGINT) AS tot
                  FROM lens GROUP BY 1),
          arrival AS (SELECT 'arrival' AS strategy,
              CAST(SUM(cnt) AS BIGINT) AS n_docs,
              COUNT(*) AS n_batches,
              CAST(SUM(tot) AS BIGINT) AS total_tokens,
              CAST(SUM(cnt * mx) AS BIGINT) AS padded_tokens
            FROM arr),
          rk AS (SELECT len, (ROW_NUMBER() OVER (ORDER BY len) - 1) // 16 AS b
                 FROM lens),
          sb AS (SELECT b, COUNT(*) AS cnt, MAX(len) AS mx,
                   CAST(SUM(len) AS BIGINT) AS tot
                 FROM rk GROUP BY 1),
          srt AS (SELECT 'length_sorted' AS strategy,
              CAST(SUM(cnt) AS BIGINT) AS n_docs,
              COUNT(*) AS n_batches,
              CAST(SUM(tot) AS BIGINT) AS total_tokens,
              CAST(SUM(cnt * mx) AS BIGINT) AS padded_tokens
            FROM sb)
          SELECT strategy, n_docs, n_batches, total_tokens, padded_tokens,
            (padded_tokens - total_tokens) * 1000000 // padded_tokens
              AS waste_ppm
          FROM (SELECT * FROM arrival UNION ALL SELECT * FROM srt)""",
    "ta28_vocab_sweep" -> {
      val legs = Seq(0, 2, 4, 6, 8).map { k =>
        val chain = ta27Merges.take(k).foldLeft("w") { case (acc, (p, m)) =>
          s"replace($acc, '$p', '$m')"
        }
        s"SELECT CAST($k AS BIGINT) AS k_merges, " +
          s"CAST(SUM(length($chain)) AS BIGINT) AS n_tokens, " +
          s"COUNT(*) AS n_words FROM words"
      }.mkString(" UNION ALL ")
      s"""WITH words AS (SELECT w
             FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             WHERE w <> ''),
          legs AS ($legs)
          SELECT k_merges, n_tokens, n_words,
            n_tokens * 1000 // n_words AS tokens_per_1k_words,
            COALESCE(LAG(n_tokens, 1) OVER (ORDER BY k_merges) - n_tokens, 0)
              AS marginal_tokens_saved
          FROM legs"""
    },
    // the round-trip identity: re-concatenated tokens == the
    // the same rational KN terms with // per term; the oracle ranks
    // with one plain window (it never scales)
    "ta24_kneser_ney" ->
      """WITH bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
             FROM (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
                  unnest(range(len(ws) - 1)) AS t(i)),
          c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
          ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                    COUNT(*) AS n1f
                  FROM c12 GROUP BY 1),
          back AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
          bt AS (SELECT COUNT(*) AS b FROM c12),
          top5 AS (SELECT w1, c1, n1f FROM ctx
                   ORDER BY c1 DESC, w1 ASC LIMIT 5),
          sc AS (SELECT c12.w1, c12.w2, c12.c12, t.c1, t.n1f, back.n1b,
                   (4 * c12.c12 - 3) * 250000 // t.c1
                     + (750000 * t.n1f // t.c1)
                       * (back.n1b * 1000000 // bt.b) // 1000000
                     AS p_kn_ppm
                 FROM c12 JOIN top5 t USING (w1) JOIN back USING (w2)
                 CROSS JOIN bt),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
                  ORDER BY p_kn_ppm DESC, w2 ASC) AS rank
                FROM sc)
          SELECT w1, CAST(rank AS BIGINT) AS rank, w2, c12, c1,
            CAST(n1f AS BIGINT) AS n1f, CAST(n1b AS BIGINT) AS n1b,
            CAST(p_kn_ppm AS BIGINT) AS p_kn_ppm
          FROM r WHERE rank <= 3""",
    // the same KN estimates scored over every doc's bigram stream;
    // the log2 CASE arms are interpolated from the SAME Scala
    // constants the engine plan uses
    "ta26_perplexity_filter" ->
      s"""WITH bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
             FROM (SELECT string_split(text, ' ') AS ws FROM documents
                   WHERE len(string_split(text, ' ')) >= 2),
                  unnest(range(len(ws) - 1)) AS t(i)),
          c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
          ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                    COUNT(*) AS n1f
                  FROM c12 GROUP BY 1),
          back AS (SELECT w2, COUNT(*) AS n1b FROM c12 GROUP BY 1),
          bt AS (SELECT COUNT(*) AS b FROM c12),
          lm AS (SELECT c12.w1, c12.w2,
                   (4 * c12.c12 - 3) * 250000 // t.c1
                     + (750000 * t.n1f // t.c1)
                       * (back.n1b * 1000000 // bt.b) // 1000000
                     AS p_kn_ppm
                 FROM c12 JOIN ctx t USING (w1) JOIN back USING (w2)
                 CROSS JOIN bt),
          db AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
                      unnest(range(len(ws) - 1)) AS t(i)),
          sx AS (SELECT doc_id,
                   greatest(1, 1000000 // greatest(1, p_kn_ppm)) AS x
                 FROM db JOIN lm USING (w1, w2)),
          se AS (SELECT doc_id, x, $log2ExpCase AS e FROM sx),
          sm AS (SELECT doc_id, e, (x * 8) // (1::BIGINT << CAST(e AS INT)) AS m
                 FROM se),
          sc AS (SELECT doc_id,
                   CAST(e * 1000 + ($log2FracCase) AS BIGINT) AS s_mb
                 FROM sm),
          agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                    CAST(SUM(s_mb) AS BIGINT) AS surprisal_mb
                  FROM sc GROUP BY 1)
          SELECT doc_id, n_bigrams, surprisal_mb,
            surprisal_mb // n_bigrams AS mean_mb,
            surprisal_mb // n_bigrams <= 4800 AS keep
          FROM agg""",
    // space-stripped source, so the oracle never needs to replay BPE
    // itself; the count bound is pinned TRUE (prof6's pattern)
    "ta22_bpe_roundtrip" ->
      """SELECT doc_id, md5(replace(text, ' ', '')) AS decoded_md5,
           TRUE AS tokens_le_chars
         FROM documents WHERE length(replace(text, ' ', '')) > 0""",
    "ta1_lang_id" -> {
      val scoreSql = stopwords.map { case (l, ws) =>
        s"CAST(len(list_filter(string_split(text, ' '), w -> w IN ${inList(ws)})) AS BIGINT) AS s_$l"
      }.mkString(", ")
      val bestSql = "greatest(" + stopwords.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val predSql = "CASE " + stopwords.map { case (l, _) =>
        s"WHEN $bestSql > 0 AND s_$l = $bestSql THEN '$l'"
      }.mkString(" ") + " ELSE 'unknown' END"
      s"""SELECT doc_id, labeled_lang, ${stopwords.map { case (l, _) => s"s_$l" }.mkString(", ")},
            $predSql AS predicted
          FROM (SELECT doc_id, lang AS labeled_lang, $scoreSql FROM documents)"""
    },
    "ta2_quality_score" ->
      s"""SELECT doc_id, n_words, n_chars,
            (n_chars - (n_words - 1)) / n_words AS avg_word_len,
            stop_hits / n_words AS stop_ratio,
            CASE WHEN n_words BETWEEN 20 AND 100
                  AND (n_chars - (n_words - 1)) / n_words < 8
                  AND stop_hits / n_words >= 0.02
                 THEN 'keep' ELSE 'flag' END AS verdict
          FROM (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(length(text) AS BIGINT) AS n_chars,
                  CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                FROM documents)""",
    "ta3_token_stats" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents""",
    "ta5_repetition_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g1 AS (SELECT doc_id, unnest(ws) AS g FROM w WHERE len(ws) >= 1),
         g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                  i -> ws[i] || ' ' || ws[i+1])) AS g FROM w WHERE len(ws) >= 2),
         g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
                FROM w WHERE len(ws) >= 3),
         c1 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot1, MAX(c) AS max1
                FROM (SELECT doc_id, g, COUNT(*) AS c FROM g1 GROUP BY 1, 2)
                GROUP BY doc_id),
         c2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot2, MAX(c) AS max2
                FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
                GROUP BY doc_id),
         c3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot3,
                  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3
                FROM (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2)
                GROUP BY doc_id)
         SELECT doc_id,
           CAST(max1 AS DOUBLE) / tot1 AS max_word_share,
           CAST(max2 AS DOUBLE) / tot2 AS top_bigram_share,
           CAST(dup3 AS DOUBLE) / tot3 AS dup_trigram_frac,
           (CAST(max1 AS DOUBLE) / tot1 > 0.2 OR CAST(max2 AS DOUBLE) / tot2 > 0.2
            OR CAST(dup3 AS DOUBLE) / tot3 > 0.6) AS repetitive
         FROM c1 JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)""",
    // same trigram keys, duplicate-start rule and 3-position span
    // removal; reassembly = string_agg ORDER BY pos
    "ta20_selfrepeat_trim" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         pos AS (SELECT doc_id, n, CAST(t.i AS BIGINT) AS pos, ws[t.i] AS w
                 FROM d, LATERAL unnest(range(1, n + 1)) t(i)),
         tri AS (SELECT doc_id, CAST(t.p AS BIGINT) AS pos,
                   ws[t.p] || ' ' || ws[t.p + 1] || ' ' || ws[t.p + 2] AS tri
                 FROM d, LATERAL unnest(range(1, n - 1)) t(p)
                 WHERE n >= 3),
         fp AS (SELECT doc_id, tri, MIN(pos) AS first_pos
                FROM tri GROUP BY doc_id, tri),
         ds AS (SELECT t.doc_id, t.pos FROM tri t JOIN fp
                  ON t.doc_id = fp.doc_id AND t.tri = fp.tri
                WHERE t.pos > fp.first_pos),
         cov AS (SELECT DISTINCT doc_id, pos + o.o AS pos
                 FROM ds, (SELECT unnest(range(0, 3)) AS o) o),
         kept AS (SELECT p.* FROM pos p ANTI JOIN cov c
                    ON p.doc_id = c.doc_id AND p.pos = c.pos)
         SELECT doc_id, MAX(n) AS n_before, COUNT(*) AS n_after,
                md5(string_agg(w, ' ' ORDER BY pos)) AS trimmed_md5
         FROM kept GROUP BY doc_id""",
    // same slicing replay: range(0, n, 48) == sequence(0, n-1, 48)
    // for n >= 1 (split never yields an empty list), list_slice is
    // end-inclusive so the stop index caps at n
    "rag1_chunk_overlap" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         ch AS (SELECT doc_id, CAST(t.s AS BIGINT) AS start, n,
                  list_slice(ws, CAST(t.s + 1 AS BIGINT), LEAST(t.s + 64, n)) AS chunk
                FROM d, LATERAL unnest(range(0, GREATEST(n, 1), 48)) t(s))
         SELECT doc_id,
           start // 48 AS chunk_id,
           start AS start_tok,
           CAST(len(chunk) AS BIGINT) AS chunk_len,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM ch""",
    "ta7_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id, text ||
             (CASE WHEN doc_id % 7 = 0
                   THEN ' contact_' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END) ||
             (CASE WHEN doc_id % 11 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END) AS txt
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(txt,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM aug""",
    "ta8_rarity_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt)
         SELECT doc_id,
           CAST(SUM(total // c) AS BIGINT) AS rarity_sum,
           COUNT(*) AS n_tokens,
           CAST(CAST(SUM(total // c) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_rarity
         FROM tok JOIN cnt USING (w) CROSS JOIN tot
         GROUP BY doc_id""",
    "ta10_quality_classifier" ->
      """WITH w AS (SELECT bucket,
             CAST(CAST('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 8) AS UBIGINT)
               % 2001 AS BIGINT) - 1000 AS w
           FROM range(256) t(bucket)),
         f AS (SELECT doc_id,
                 unnest(list_concat(ws,
                   list_transform(range(len(ws) - 1),
                     i -> ws[i + 1] || ' ' || ws[i + 2]))) AS f
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         fb AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 256 AS BIGINT)
                    AS bucket
                FROM f)
         SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score, COUNT(*) AS n_feats,
           CASE WHEN CAST(SUM(w.w) AS BIGINT) > 0 THEN 'keep' ELSE 'drop' END AS verdict
         FROM fb JOIN w USING (bucket) GROUP BY doc_id""",
    // ta10's score CTEs + ta2's verdict subquery + the exact integer
    // bin/permille arithmetic
    "ev8_classifier_calibration" ->
      s"""WITH w AS (SELECT bucket,
             CAST(CAST('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 8) AS UBIGINT)
               % 2001 AS BIGINT) - 1000 AS w
           FROM range(256) t(bucket)),
         f AS (SELECT doc_id,
                 unnest(list_concat(ws,
                   list_transform(range(len(ws) - 1),
                     i -> ws[i + 1] || ' ' || ws[i + 2]))) AS f
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         fb AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 256 AS BIGINT)
                    AS bucket
                FROM f),
         sc AS (SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score
                FROM fb JOIN w USING (bucket) GROUP BY doc_id),
         tr AS (SELECT doc_id,
                  CASE WHEN n_words BETWEEN 20 AND 100
                        AND (n_chars - (n_words - 1)) / n_words < 8
                        AND stop_hits / n_words >= 0.02
                       THEN 1 ELSE 0 END AS actual
                FROM (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                        CAST(length(text) AS BIGINT) AS n_chars,
                        CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                      FROM documents)),
         mm AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM sc)
         SELECT (score - lo) * 10 // (hi - lo + 1) AS bin,
           COUNT(*) AS n_docs, CAST(SUM(actual) AS BIGINT) AS n_keep,
           MIN(score) AS score_lo, MAX(score) AS score_hi,
           (CAST(SUM(actual) AS BIGINT) * 1000) // COUNT(*) AS keep_permille
         FROM sc JOIN tr USING (doc_id) CROSS JOIN mm
         GROUP BY 1""",
    "ta25_dedup_token_report" ->
      """WITH two AS (SELECT doc_id, source, text FROM documents
                      UNION ALL
                      SELECT doc_id + 100000000, source, text FROM documents),
          d AS (SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5(text) AS h
           FROM two),
          k AS (SELECT h, MIN(doc_id) AS keep_id FROM d GROUP BY h)
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT)
              AS n_kept,
            CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
            CAST(SUM(CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END)
              AS BIGINT) AS tokens_kept,
            CAST((SUM(n_tokens) - SUM(CASE WHEN doc_id = keep_id
                  THEN n_tokens ELSE 0 END)) * 1000000
              // SUM(n_tokens) AS BIGINT) AS token_savings_ppm
          FROM d JOIN k USING (h)
          GROUP BY source""",
    // the three ev legs' oracle algebra crossed into the single
    // release row; HUGEINT mirrors DECIMAL(38)
    "cp4_eval_release" ->
      s"""WITH w AS (SELECT bucket,
             CAST(CAST('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 8) AS UBIGINT)
               % 2001 AS BIGINT) - 1000 AS w
           FROM range(256) t(bucket)),
         f AS (SELECT doc_id,
                 unnest(list_concat(ws,
                   list_transform(range(len(ws) - 1),
                     i -> ws[i + 1] || ' ' || ws[i + 2]))) AS f
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         fb AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 256 AS BIGINT)
                    AS bucket
                FROM f),
         sc AS (SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score
                FROM fb JOIN w USING (bucket) GROUP BY doc_id),
         tr AS (SELECT doc_id,
                  CASE WHEN n_words BETWEEN 20 AND 100
                        AND (n_chars - (n_words - 1)) / n_words < 8
                        AND stop_hits / n_words >= 0.02
                       THEN 1 ELSE 0 END AS actual
                FROM (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                        CAST(length(text) AS BIGINT) AS n_chars,
                        CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                      FROM documents)),
         j AS (SELECT sc.doc_id, score, actual FROM sc JOIN tr USING (doc_id)),
         g AS (SELECT score, COUNT(*) AS n, CAST(SUM(actual) AS BIGINT) AS p
               FROM j GROUP BY score),
         c AS (SELECT score, n, p,
                 COALESCE(SUM(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
               FROM g),
         agg AS (SELECT SUM(p * (2 * cum_before + n + 1)) AS rpos2,
                   CAST(SUM(p) AS BIGINT) AS npos,
                   CAST(SUM(n - p) AS BIGINT) AS nneg
                 FROM c),
         auc AS (SELECT CAST(CASE WHEN npos = 0 OR nneg = 0 THEN 0
                       ELSE (rpos2 - npos * (npos + 1)) * 1000000
                            // (2 * npos * nneg) END AS BIGINT) AS auc_ppm
                 FROM agg),
         t AS (SELECT COUNT(*) AS n_total, CAST(SUM(actual) AS BIGINT) AS tot_pos
               FROM j),
         r AS (SELECT actual,
                 CAST(ROW_NUMBER() OVER (ORDER BY score, actual, doc_id) AS BIGINT)
                   AS rank_asc
               FROM j),
         d0 AS (SELECT COUNT(*) AS d_docs, CAST(SUM(actual) AS BIGINT) AS d_pos
                FROM r CROSS JOIN t
                WHERE (t.n_total - rank_asc) * 10 // t.n_total = 0),
         lift AS (SELECT CAST(CAST(d_pos AS HUGEINT) * t.n_total * 1000000
                    // (CAST(d_docs AS HUGEINT) * t.tot_pos) AS BIGINT)
                    AS top_decile_lift_ppm
                  FROM d0 CROSS JOIN t),
         mmx AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM j),
         bins AS (SELECT (score - lo) * 10 // (hi - lo + 1) AS bin,
                    CAST(SUM(actual) * 1000 // COUNT(*) AS BIGINT)
                      AS keep_permille
                  FROM j CROSS JOIN mmx GROUP BY 1),
         mono AS (SELECT MIN(CASE WHEN prev IS NULL THEN 1
                      WHEN keep_permille >= prev THEN 1 ELSE 0 END) = 1
                    AS calibration_monotone
                  FROM (SELECT keep_permille,
                          LAG(keep_permille) OVER (ORDER BY bin) AS prev
                        FROM bins))
         SELECT auc_ppm, top_decile_lift_ppm, calibration_monotone,
           (auc_ppm >= 600000 AND top_decile_lift_ppm >= 1200000
             AND calibration_monotone) AS released
         FROM auc CROSS JOIN lift CROSS JOIN mono""",
    // the oracle ranks with ONE global window over distinct scores
    // (it never scales); the engine's two-level half-unit rank
    // algebra must reproduce it exactly. HUGEINT sums mirror the
    // Spark side's DECIMAL(38) scalar division.
    "ev9_auc" ->
      s"""WITH w AS (SELECT bucket,
             CAST(CAST('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 8) AS UBIGINT)
               % 2001 AS BIGINT) - 1000 AS w
           FROM range(256) t(bucket)),
         f AS (SELECT doc_id,
                 unnest(list_concat(ws,
                   list_transform(range(len(ws) - 1),
                     i -> ws[i + 1] || ' ' || ws[i + 2]))) AS f
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         fb AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 256 AS BIGINT)
                    AS bucket
                FROM f),
         sc AS (SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score
                FROM fb JOIN w USING (bucket) GROUP BY doc_id),
         tr AS (SELECT doc_id,
                  CASE WHEN n_words BETWEEN 20 AND 100
                        AND (n_chars - (n_words - 1)) / n_words < 8
                        AND stop_hits / n_words >= 0.02
                       THEN 1 ELSE 0 END AS actual
                FROM (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                        CAST(length(text) AS BIGINT) AS n_chars,
                        CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                      FROM documents)),
         g AS (SELECT score, COUNT(*) AS n, CAST(SUM(actual) AS BIGINT) AS p
               FROM sc JOIN tr USING (doc_id) GROUP BY score),
         c AS (SELECT score, n, p,
                 COALESCE(SUM(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
               FROM g),
         agg AS (SELECT SUM(p * (2 * cum_before + n + 1)) AS rpos2,
                   CAST(SUM(p) AS BIGINT) AS npos,
                   CAST(SUM(n - p) AS BIGINT) AS nneg
                 FROM c)
         SELECT npos, nneg,
           CAST(CASE WHEN npos = 0 OR nneg = 0 THEN 0
                     ELSE (rpos2 - npos * (npos + 1)) * 1000000
                          // (2 * npos * nneg) END AS BIGINT) AS auc_ppm
         FROM agg""",
    // same scorer/truth; the oracle deciles off one global rank
    // (score, actual, doc_id — the negatives-first tie order that
    // makes the engine side a pure histogram computation)
    "ev10_lift_gain" ->
      s"""WITH w AS (SELECT bucket,
             CAST(CAST('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 8) AS UBIGINT)
               % 2001 AS BIGINT) - 1000 AS w
           FROM range(256) t(bucket)),
         f AS (SELECT doc_id,
                 unnest(list_concat(ws,
                   list_transform(range(len(ws) - 1),
                     i -> ws[i + 1] || ' ' || ws[i + 2]))) AS f
               FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
         fb AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 256 AS BIGINT)
                    AS bucket
                FROM f),
         sc AS (SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score
                FROM fb JOIN w USING (bucket) GROUP BY doc_id),
         tr AS (SELECT doc_id,
                  CASE WHEN n_words BETWEEN 20 AND 100
                        AND (n_chars - (n_words - 1)) / n_words < 8
                        AND stop_hits / n_words >= 0.02
                       THEN 1 ELSE 0 END AS actual
                FROM (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                        CAST(length(text) AS BIGINT) AS n_chars,
                        CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
                      FROM documents)),
         j AS (SELECT sc.doc_id, score, actual FROM sc JOIN tr USING (doc_id)),
         t AS (SELECT COUNT(*) AS n_total, CAST(SUM(actual) AS BIGINT) AS tot_pos
               FROM j),
         r AS (SELECT actual,
                 CAST(ROW_NUMBER() OVER (ORDER BY score, actual, doc_id) AS BIGINT)
                   AS rank_asc
               FROM j),
         d AS (SELECT (t.n_total - rank_asc) * 10 // t.n_total AS decile,
                 COUNT(*) AS n_docs, CAST(SUM(actual) AS BIGINT) AS n_pos,
                 MAX(t.n_total) AS n_total, MAX(t.tot_pos) AS tot_pos
               FROM r CROSS JOIN t GROUP BY 1),
         cum AS (SELECT decile, n_docs, n_pos, n_total, tot_pos,
                   CAST(SUM(n_docs) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
                   CAST(SUM(n_pos) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
                 FROM d)
         SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos, cum_docs,
           cum_pos,
           CAST(cum_pos * 1000 // tot_pos AS BIGINT) AS gain_permille,
           CAST(CAST(cum_pos AS HUGEINT) * n_total * 1000000
             // (CAST(cum_docs AS HUGEINT) * tot_pos) AS BIGINT) AS lift_ppm
         FROM cum""",
    // the clipped-precision definition restated declaratively: per
    // (doc, n, gram), candidate credit = min(cand count, ref count);
    // same two planted model outputs, same >= 4-word doc filter
    "ev12_bleu_precision" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents
                       WHERE len(string_split(text, ' ')) >= 4),
         cands AS (SELECT doc_id, 'shifted' AS model, ws[2:len(ws)] AS ws FROM docs
                   UNION ALL
                   SELECT doc_id, 'sorted' AS model, list_sort(ws) AS ws FROM docs),
         cg AS (SELECT model, doc_id, nn.n,
                  array_to_string(ws[i:i+nn.n-1], ' ') AS g
                FROM cands CROSS JOIN (VALUES (1), (2), (3)) nn(n),
                     unnest(range(1, len(ws) - nn.n + 2)) t(i)),
         rg AS (SELECT doc_id, nn.n, array_to_string(ws[i:i+nn.n-1], ' ') AS g
                FROM docs CROSS JOIN (VALUES (1), (2), (3)) nn(n),
                     unnest(range(1, len(ws) - nn.n + 2)) t(i)),
         cc AS (SELECT model, doc_id, n, g, COUNT(*) AS cc FROM cg GROUP BY ALL),
         rc AS (SELECT doc_id, n, g, COUNT(*) AS rc FROM rg GROUP BY ALL),
         m AS (SELECT model, n, CAST(SUM(least(cc, rc)) AS BIGINT) AS matched_ngrams
               FROM cc JOIN rc USING (doc_id, n, g) GROUP BY 1, 2),
         ct AS (SELECT model, n, CAST(SUM(cc) AS BIGINT) AS cand_ngrams
                FROM cc GROUP BY 1, 2),
         rt AS (SELECT n, CAST(SUM(rc) AS BIGINT) AS ref_ngrams FROM rc GROUP BY 1)
         SELECT model, CAST(n AS BIGINT) AS n, matched_ngrams, cand_ngrams,
           ref_ngrams,
           CAST(matched_ngrams * 1000000 // cand_ngrams AS BIGINT) AS precision_ppm
         FROM ct JOIN m USING (model, n) JOIN rt USING (n)""",
    "ta11_domain_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         w AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM c),
         t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum,
                 (SELECT COUNT(*) // 2 FROM documents) AS target FROM w),
         q AS (SELECT lang, CAST((target * w) // wsum AS BIGINT) AS quota
               FROM w CROSS JOIN t),
         r AS (SELECT doc_id, lang,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
               FROM documents)
         SELECT doc_id, lang, rk, quota FROM r JOIN q USING (lang) WHERE rk <= quota""",
    // single global window is fine for the oracle (it never scales);
    // the engine's two-level prefix must reproduce it exactly
    "ta19_sequence_pack" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
                    FROM documents),
         p AS (SELECT doc_id, nt,
                 CAST(SUM(nt) OVER (ORDER BY doc_id) AS BIGINT) AS endp
               FROM d),
         x AS (SELECT doc_id, nt, endp - nt AS startp, endp FROM p)
         SELECT seq_id, doc_id,
           GREATEST(startp, seq_id * 512) - startp AS doc_off,
           LEAST(endp, (seq_id + 1) * 512) - GREATEST(startp, seq_id * 512) AS len
         FROM (SELECT doc_id, startp, endp,
                 unnest(range(startp // 512, (endp - 1) // 512 + 1)) AS seq_id
               FROM x)""",
    "ta9_stratified_sample" ->
      """SELECT doc_id, lang, bucket FROM (
           SELECT doc_id, lang,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) % 4
               AS BIGINT) AS bucket,
             CASE WHEN lang = 'en' THEN 2 ELSE 1 END AS quota
           FROM documents)
         WHERE bucket < quota""",
    // same plant, same score lists, same first-match-wins tie-breaks
    // the three GD rounds unrolled: iteration 1 simplifies under
    // w0 = 0 (pred = 0, err = -y); 2 and 3 replay the
    // broadcast-weights pred join + doc-grain err + bucket-grain
    // grad. `//` and Scala `/` both truncate toward zero, so the
    // driver-side updates replay bit-for-bit. (CTE chain shared with
    // ev14, which scores the trained w3.)
    "ta32_quality_trainer" ->
      s"""WITH $ta32Ctes
         SELECT dfb.bucket, dfb.df, w1.w AS w1, w2.w AS w2, w3.w AS w3,
           (SELECT sae FROM s1) AS sae1, (SELECT sae FROM s2) AS sae2,
           (SELECT sae FROM s3) AS sae3
         FROM dfb
         JOIN w1 USING (bucket) JOIN w2 USING (bucket) JOIN w3 USING (bucket)""",
    // ta32's training replayed, then the trained w3 scores every doc
    // and the verdict thresholds at y/2 — the confusion rollup closes
    // the loop between the trainer and the rule it was fit to
    "ev14_probe_eval" ->
      s"""WITH $ta32Ctes,
         sc AS (SELECT f.doc_id, f.y, CAST(SUM(w3.w) AS BIGINT) AS score
                FROM feats f JOIN w3 USING (bucket) GROUP BY 1, 2),
         cls AS (SELECT doc_id,
                   CASE WHEN score > 500 THEN 1 ELSE 0 END AS pred_keep,
                   CASE WHEN y = 1000 THEN 1 ELSE 0 END AS is_keep
                 FROM sc)
         SELECT CAST(SUM(pred_keep * is_keep) AS BIGINT) AS tp,
           CAST(SUM(pred_keep * (1 - is_keep)) AS BIGINT) AS fp,
           CAST(SUM((1 - pred_keep) * is_keep) AS BIGINT) AS fn,
           CAST(SUM((1 - pred_keep) * (1 - is_keep)) AS BIGINT) AS tn,
           CAST(SUM(CASE WHEN pred_keep = is_keep THEN 1 ELSE 0 END) * 1000
             // COUNT(*) AS BIGINT) AS accuracy_permille
         FROM cls""",
    "ta31_code_switch" -> {
      val scoreSql = stopwords.map { case (l, ws) =>
        s"CAST(len(list_filter(string_split(txt, ' '), w -> w IN ${inList(ws)})) AS BIGINT) AS s_$l"
      }.mkString(", ")
      val langs = stopwords.map(_._1)
      val bestSql = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
      val primSql = "CASE " + langs.map(l =>
        s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ") +
        " ELSE 'unknown' END"
      val secHitsSql = "greatest(" + langs.map(l =>
        s"(CASE WHEN prim <> '$l' THEN s_$l ELSE 0 END)").mkString(", ") + ")"
      val secSql = "CASE " + langs.map(l =>
        s"WHEN sec_hits > 0 AND prim <> '$l' AND s_$l = sec_hits THEN '$l'")
        .mkString(" ") + " ELSE 'none' END"
      s"""WITH d AS (SELECT doc_id,
            text || CASE WHEN doc_id % 23 = 4
                         THEN ' der die das und der die das und' ELSE '' END
                 || CASE WHEN doc_id % 29 = 11
                         THEN ' le et le et la le et' ELSE '' END AS txt
          FROM documents),
          sc AS (SELECT doc_id, $scoreSql FROM d),
          p AS (SELECT *, $bestSql AS best FROM sc),
          pr AS (SELECT *, $primSql AS prim FROM p),
          sec AS (SELECT *, $secHitsSql AS sec_hits FROM pr)
          SELECT doc_id, prim AS primary_lang, $secSql AS secondary_lang,
            best AS primary_hits, sec_hits
          FROM sec
          WHERE sec_hits >= 3 AND sec_hits * 10 >= best * 3"""
    },
    // the same Newton-guarded integer sqrt; shares via HUGEINT //
    "ta30_mixture_weights" ->
      """WITH by_lang AS (SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM by_lang),
          sh AS (SELECT lang, n_docs, n_tokens,
              CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot AS BIGINT)
                AS share_ppm
            FROM by_lang CROSS JOIN tot),
          r AS (SELECT *, CAST(floor(sqrt(CAST(share_ppm AS DOUBLE))) AS BIGINT)
                  AS r0 FROM sh),
          wt AS (SELECT lang, n_docs, n_tokens, share_ppm,
              CASE WHEN (r0 + 1) * (r0 + 1) <= share_ppm THEN r0 + 1
                   WHEN r0 * r0 > share_ppm THEN r0 - 1 ELSE r0 END AS w
            FROM r),
          ws AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum FROM wt)
          SELECT lang, n_docs, n_tokens, share_ppm,
            w * 1000000 // greatest(1, wsum) AS target_ppm,
            (w * 1000000 // greatest(1, wsum)) * 1000000
              // greatest(1, share_ppm) AS rate_ppm,
            (w * 1000000 // greatest(1, wsum)) * 1000000
              // greatest(1, share_ppm) > 1000000 AS oversampled
          FROM wt CROSS JOIN ws""",
    "ta6_shard_pack" ->
      """SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // 2000 AS BIGINT) AS shard_id
         FROM (SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id) AS cum
               FROM (SELECT doc_id,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                     FROM documents))""",
    // same straddle rule; the step derives from the in-query token
    // total exactly as the Spark side's memoized statistic does
    "ta23_pps_sample" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         st AS (SELECT GREATEST(1, CAST(SUM(n_tokens) // 100 AS BIGINT)) AS step
                FROM d),
         c AS (SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
               FROM d)
         SELECT doc_id, n_tokens,
           CAST(cum // st.step - (cum - n_tokens) // st.step AS BIGINT) AS n_units
         FROM c CROSS JOIN st
         WHERE cum // st.step - (cum - n_tokens) // st.step > 0""",
    "ta12_bigram_rarity" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
                    WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT doc_id, ws[i] AS p, ws[i + 1] AS w
                FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
         c2 AS (SELECT p, w, COUNT(*) AS c2 FROM bg GROUP BY p, w),
         c1 AS (SELECT p, COUNT(*) AS c1 FROM bg GROUP BY p)
         SELECT doc_id,
           CAST(SUM(c1 // c2) AS BIGINT) AS rarity_sum,
           COUNT(*) AS n_bigrams,
           CAST(CAST(SUM(c1 // c2) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_rarity
         FROM bg JOIN c2 USING (p, w) JOIN c1 USING (p)
         GROUP BY doc_id""",
    "ta15_split_assignment" ->
      """WITH s AS (
           SELECT source, doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80
                  THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
           FROM documents)
         SELECT source, split, COUNT(*) AS n_docs,
                MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         FROM s GROUP BY 1, 2""",
    "ta14_lm_quality" ->
      """WITH ref AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         refw AS (SELECT string_split(text, ' ') AS ws FROM ref),
         refuni AS (SELECT w1, COUNT(*) AS cu
                    FROM (SELECT unnest(ws) AS w1 FROM refw) GROUP BY 1),
         v AS (SELECT COUNT(*) AS nv FROM refuni),
         refbi AS (
           SELECT w1, w2, COUNT(*) AS cb FROM (
             SELECT ws[i] AS w1, ws[i+1] AS w2
             FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM refw
                   WHERE len(ws) >= 2))
           GROUP BY 1, 2),
         allbi AS (
           SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
           FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
                 WHERE len(ws) >= 2)),
         scored AS (
           SELECT a.doc_id,
             (length(bin(COALESCE(u.cu, 0) + (SELECT nv FROM v))) - 1)
               - (length(bin(COALESCE(b.cb, 0) + 1)) - 1) AS bits
           FROM allbi a
           LEFT JOIN refuni u ON a.w1 = u.w1
           LEFT JOIN refbi b ON a.w1 = b.w1 AND a.w2 = b.w2)
         SELECT doc_id, COUNT(*) AS n_bigrams,
                CAST(SUM(bits) AS BIGINT) AS total_bits,
                CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS bits_per_token
         FROM scored GROUP BY doc_id""",
    "ta21_curriculum" ->
      """WITH keyed AS (
           SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(CASE WHEN len(string_split(text, ' ')) <= 20 THEN 0
                       WHEN len(string_split(text, ' ')) <= 50 THEN 1
                       WHEN len(string_split(text, ' ')) <= 100 THEN 2
                       ELSE 3 END AS BIGINT) AS phase
           FROM documents),
         hashed AS (
           SELECT doc_id, n_tokens, phase,
             md5(CAST(phase AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS okey
           FROM keyed),
         sharded AS (
           SELECT *, CAST(CAST('0x' || substr(okey, 1, 8) AS UBIGINT)
               % GREATEST(8, (SELECT COUNT(*) FROM documents) // 250) AS BIGINT) AS shard
           FROM hashed)
         SELECT phase, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY phase, shard ORDER BY okey, doc_id)
             AS BIGINT) AS ord,
           doc_id, n_tokens
         FROM sharded""",
    "ta13_epoch_shuffle" ->
      """WITH keyed AS (
           SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS okey
           FROM documents d CROSS JOIN (SELECT unnest(range(2)) AS epoch) e),
         sharded AS (
           SELECT epoch, doc_id, okey,
             CAST(CAST('0x' || substr(okey, 1, 8) AS UBIGINT)
               % GREATEST(8, (SELECT COUNT(*) FROM documents) // 250) AS BIGINT) AS shard
           FROM keyed)
         SELECT epoch, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY okey, doc_id)
             AS BIGINT) AS ord,
           doc_id
         FROM sharded""",
    "ta4_fingerprint" ->
      """WITH grams AS (
           SELECT doc_id, i - 1 AS pos, md5(w[i] || ' ' || w[i + 1]) AS h
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                       WHERE len(string_split(text, ' ')) >= 5))),
         fps AS (
           SELECT doc_id, pos,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
           FROM grams)
         SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp
         FROM (SELECT DISTINCT doc_id, fp FROM fps WHERE pos <= n_grams - 4)
         GROUP BY doc_id""",
    // same hashed-unigram models and quarter-bit log arithmetic;
    // Ntgt/Nraw come from scalar subqueries where the engine used a
    // driver-side count
    "ta17_dsir_sample" ->
      s"""WITH tok AS (SELECT doc_id, lang,
             CAST(CAST('0x' || substr(md5(w), 1, 8) AS UBIGINT) % 512 AS BIGINT) AS bucket
           FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)),
         raw AS (SELECT bucket, COUNT(*) AS cr FROM tok GROUP BY bucket),
         tgt AS (SELECT bucket, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY bucket),
         tots AS (SELECT (SELECT COUNT(*) FROM tok) AS nr,
                         (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS nt),
         model AS (
           SELECT bucket,
             ${q4Duck("ct1")} - ${q4Duck("cr1")}
               + ${q4Duck("nr")} - ${q4Duck("nt")} AS bits
           FROM (SELECT r.bucket, COALESCE(t.ct, 0) + 1 AS ct1, r.cr + 1 AS cr1, nr, nt
                 FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tots))
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(m.bits) AS BIGINT) AS weight_bits,
           CAST(SUM(m.bits) AS BIGINT) >= 0 AS selected
         FROM tok JOIN model m USING (bucket) GROUP BY doc_id""",
    // the engine's row-local run-length pipeline re-expressed as the
    // equivalent explode + per-(doc, bigram) count
    "ta18_entropy_quality" ->
      """WITH bg AS (SELECT doc_id, substr(text, i, 2) AS g
             FROM (SELECT doc_id, text, unnest(range(1, length(text))) AS i
                   FROM documents WHERE length(text) >= 2)),
         c AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
         n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY doc_id),
         e AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(SUM(c.c * ((length(bin(n.n)) - 1) - (length(bin(c.c)) - 1)))
                   AS BIGINT) AS entropy_bits
               FROM c JOIN n USING (doc_id) GROUP BY c.doc_id)
         SELECT d.doc_id, COALESCE(n.n, 0) AS n_bigrams,
           COALESCE(e.n_distinct, 0) AS n_distinct,
           COALESCE(e.entropy_bits, 0) AS entropy_bits,
           CASE WHEN COALESCE(n.n, 0) = 0
                  OR COALESCE(e.entropy_bits, 0) < 2 * COALESCE(n.n, 0)
                THEN 'flag' ELSE 'keep' END AS verdict
         FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN e USING (doc_id)"""
  )
}
