package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval operators over the `documents` corpus: keyword search
  * with inverted-index semantics and vocabulary-coverage statistics —
  * the query side of a training-data pipeline (find contaminated /
  * relevant / low-coverage documents at corpus scale).
  *
  * Scoring is BM25-SHAPED but integer-quantized: idf weights are
  * `(N * 1e6) DIV (df + 1)` and a document's score is the exact
  * integer sum of `tf * idfq`. Floating idf (log-based) sums are
  * partition-order-dependent and libm's log is not correctly rounded
  * everywhere — integer weights make the score order-free and the
  * differential check bit-exact, same trade as ta8's rarity scores.
  */
object Search {

  /** Fixed query terms — mirrored in the oracle; the check verifies
    * the scoring/ranking pipeline, not retrieval quality. */
  private val queryTerms = Seq("spark", "merge", "vector")
  private def termList = queryTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** NDCG@20 position discounts floor(1e6/log2(i+1)) as INTEGER PLAN
    * LITERALS (dq4's Benford trick) — computed once at build, shared
    * verbatim with the oracle, so no transcendental runs in either
    * engine at query time.
    */
  private val ndcgDiscounts: Seq[(Long, Long)] = (1 to 20).map(i =>
    (i.toLong, math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong))
  private def discountValues = ndcgDiscounts
    .map { case (p, d) => s"($p, $d)" }.mkString(", ")

  /** The MAINTAINED POSTINGS INDEX — the search family's storage
    * story, the signature-table convention applied to retrieval: a
    * real search deployment does not re-tokenize and re-count the
    * corpus per query, it maintains an inverted index. The (doc_id,
    * w, tf) postings materialize once per corpus version (a
    * [[graft.State]] table), and every frequency-based retrieval
    * query — ts1/ts2/ts3/ts5/ts8/ev11 — reads one columnar scan. Doc
    * lengths derive from the index (Σ tf per doc, index-grain). ts4's positional adjacency and
    * ts6's character-level typo stream read raw text by design:
    * positions and characters are different artifacts (a positional /
    * suffix index), not this table.
    */
  /** The per-doc postings derivation over an arbitrary (doc_id, text)
    * frame — factored like Dedup.corpusOf so the incremental index
    * refresh pushes DELTA documents through the exact transform the
    * full build used.
    */
  private[graft] def postingsOf(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))

  private[operators] def postingsTable(s: org.apache.spark.sql.SparkSession,
                                       dir: String): org.apache.spark.sql.DataFrame =
    Dedup.materializedTable(s, dir, "postings")(
      postingsOf(Tables.documents(s, dir)))

  /** (doc_id, dl) doc lengths off the postings index — index-grain. */
  private def dlOf(postings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  /** ts8's hybrid fusion over ARBITRARY index inputs — the ONE read
    * path both the batch-built postings table (ts8) and the streamed
    * maintained stores (ts9) serve: BM25 lexical leg under the df-cap
    * contract from `tf`, reciprocal-rank fusion with the given
    * semantic leg. `tf` is (doc_id, w, tf) at (doc, term) grain;
    * `vecLeg` is (query_id, doc_id, v_rank).
    */
  private[graft] def hybridRrfOf(tf: org.apache.spark.sql.DataFrame,
                                 nDocs: Long, totTok: Long,
                                 vecLeg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dl = dlOf(tf)
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 32)
      .withColumn("idfq", expr(s"CAST((${nDocs}L * 1000000L) DIV (df + 1) AS BIGINT)"))
    // postings are unique by (doc_id, w) — the query's distinct
    // vocabulary needs no extra dedup exchange
    val qterms = tf.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("w"))
      .join(dft, "w")
    val cand = tf.join(broadcast(qterms), "w")
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl, "doc_id")
      .withColumn("c", expr(
        "floor(CAST(idfq AS DOUBLE) * ((CAST(tf AS DOUBLE) * 2.2D) / " +
          "(CAST(tf AS DOUBLE) + (1.2D * (0.25D + (0.75D * " +
          s"((CAST(dl AS DOUBLE) * CAST(${nDocs}L AS DOUBLE)) / CAST(${totTok}L AS DOUBLE))))))))"))
    val wq = Window.partitionBy(col("query_id"))
    val textLeg = cand.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score"))
      .withColumn("t_rank", row_number().over(
        wq.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("t_rank") <= 20)
      .select(col("query_id"), col("doc_id"), col("t_rank"))
    textLeg.join(vecLeg, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_ppm",
        coalesce(expr("1000000L DIV (60 + t_rank)"), lit(0L)) +
          coalesce(expr("1000000L DIV (60 + v_rank)"), lit(0L)))
      .withColumn("rank", row_number().over(
        wq.orderBy(col("rrf_ppm").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_ppm"),
        col("t_rank"), col("v_rank"))
  }

  /** The MAINTAINED streamed retrieval state ts9 reads: documents and
    * embeddings fold through SearchStream / VectorStream as three
    * deterministic batches (ids mod 3) under a frozen IVF-PQ model
    * trained on the base embeddings, then LSM-compact with the last
    * batch held in-flight — exactly the state a live crawl stream
    * maintains. One [[graft.State]] entry per (session, dir, documents
    * and embeddings watermarks); the model rides the same entry — it is
    * trained on the embeddings snapshot the vector store encodes.
    * Returns (stateDir, model, nDocs, totTok).
    */
  private def streamedRetrievalState(s: org.apache.spark.sql.SparkSession,
                                     dir: String): (String, Similarity.IvfPqModel, Long, Long) =
    graft.State.scratch(s, dir, "ts9state", Tables.snapshotVersion(s, dir, "documents") +
        "|" + Tables.snapshotVersion(s, dir, "embeddings")) { base =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // identical deterministic training input to the session-
      // memoized frozen model (same quantization, count, sample
      // steps), so reuse it instead of running a second trainer
      // inside this fold
      val model = Similarity.ivfPqModelOf(s, dir)
      (0 to 2).foreach { b =>
        graft.streaming.SearchStream.processBatch(s,
          docs.filter(col("doc_id") % 3 === b), s"$base/search", b.toLong)
        graft.streaming.VectorStream.processBatch(s,
          emb.filter(col("vec_id") % 3 === b), s"$base/vector", model, b.toLong)
      }
      graft.streaming.SearchStream.compactState(s, s"$base/search",
        targetFiles = 1, excludeBatchId = 2L)
      graft.streaming.VectorStream.compactState(s, s"$base/vector",
        targetFiles = 1, excludeBatchId = 2L)
      // the BM25 leg's two state-derived scalars (ledger doc count,
      // index token total) are pure functions of the state just
      // folded — compute them once here instead of two extra driver
      // actions on every ts9 read
      val nDocs = graft.streaming.SearchStream.readDocCount(s, s"$base/search")
      val totTok = Option(graft.streaming.SearchStream
          .readPostings(s, s"$base/search")
          .agg(sum(col("tf"))).first().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      (base, model, nDocs, totTok)
    }

  val defs: Map[String, Q] = Map(

    // Keyword search: probe the MAINTAINED postings index for the
    // query terms (a real deployment queries an inverted index, not a
    // re-tokenized corpus — postingsTable above), df from the matched
    // postings, quantized idf broadcast back, top-k by exact integer
    // score with a deterministic tie-break. At 100 TB only matched
    // (doc_id, term, tf) postings ever move — corpus text never
    // enters the plan — and the global top-k is a TakeOrdered
    // (per-partition heads + driver merge), not a sort.
    "ts1_keyword_search" -> ((s, dir) => {
      val k = 20
      val n = Tables.countStat(s, dir, "documents") // memoized corpus-size scalar
      val tf = postingsTable(s, dir).filter(col("w").isin(queryTerms: _*))
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .withColumn("idfq", expr(s"CAST((${n}L * 1000000L) DIV (df + 1) AS BIGINT)"))
      val scored = tf.join(broadcast(dft), "w")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("idfq")).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
      // rank the k survivors; the window sees k rows, never the corpus
      scored.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
        .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
    }),

    // Out-of-vocabulary rate per document against a trained vocab —
    // the tokenizer-coverage health check before a training run. The
    // "vocabulary" is the corpus's top-m words (count desc, word asc —
    // deterministic), which is model-sized state: it broadcasts to a
    // left join, and the per-doc aggregate is the only shuffle.
    "ts2_oov_rate" -> ((s, dir) => {
      val m = 20
      val p = postingsTable(s, dir)
      val vocab = p.groupBy(col("w")).agg(sum(col("tf")).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(m)
        .select(col("w"), lit(true).as("in_vocab"))
      p.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", col("n_oov") / col("n_tokens"))
    }),

    // Full BM25 ranking (Robertson k1=1.2, b=0.75): ts1's quantized
    // idf weights composed with BM25's tf saturation and document-
    // length normalization. The per-(doc, term) contribution is
    // computed in double arithmetic from integer inputs — a fixed
    // expression tree of correctly-rounded IEEE ops, so both engines
    // produce identical bits per ROW — then floor-quantized to a
    // BIGINT before the per-doc sum, keeping the reduction order-free
    // (the Search scoring trade: floats per row, never across rows).
    // dl/avgdl is evaluated as (dl * N) / total in doubles; corpus
    // stats N and total-token-count are memoized planner scalars
    // (Tables.countStat/sumStat — one aggregate per session, not per
    // construction). Plan shape is ts1's: the term filter reaches the
    // exploded tokens pre-shuffle, df broadcasts back, the only
    // corpus-wide shuffle is the per-doc dl aggregate (linear,
    // key-uniform), and the global top-20 is a TakeOrdered.
    // PHRASE search — exact-adjacency retrieval over a POSITIONAL
    // index: the two phrase terms are filtered out of the exploded
    // token stream pre-shuffle (the positional-posting probe), and
    // adjacency becomes an EQUI-join on (doc_id, first.pos + 1) =
    // (doc_id, second.pos) — no theta-join, no per-doc array scan of
    // non-matching documents. Top-20 by occurrence count via
    // TakeOrdered. At 100 TB only postings of the two phrase terms
    // ever shuffle.
    "ts4_phrase_search" -> ((s, dir) => {
      val (w1, w2) = ("join", "column")
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(col("w").isin(w1, w2))
      val a = toks.filter(col("w") === w1)
        .select(col("doc_id"), (col("pos") + 1).as("nxt"))
      val b = toks.filter(col("w") === w2)
        .select(col("doc_id"), col("pos").as("nxt"))
      val hits = a.join(b, Seq("doc_id", "nxt"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy(col("n_hits").desc, col("doc_id").asc).limit(20)
      hits.withColumn("rank",
        row_number().over(Window.orderBy(col("n_hits").desc, col("doc_id").asc))
          .cast("long"))
        .select(col("rank"), col("doc_id"), col("n_hits"))
    }),

    "ts3_bm25" -> ((s, dir) => {
      val k = 20
      val nDocs = Tables.countStat(s, dir, "documents")
      val totTok = Tables.sumStat(s, dir, "documents", "size(split(text, ' '))")
      val p = postingsTable(s, dir)
      val dl = dlOf(p)
      val tf = p.filter(col("w").isin(queryTerms: _*))
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .withColumn("idfq", expr(s"CAST((${nDocs}L * 1000000L) DIV (df + 1) AS BIGINT)"))
      val contrib = tf.join(broadcast(dft), "w").join(dl, "doc_id")
        .withColumn("c", expr(
          "floor(CAST(idfq AS DOUBLE) * ((CAST(tf AS DOUBLE) * 2.2D) / " +
            "(CAST(tf AS DOUBLE) + (1.2D * (0.25D + (0.75D * " +
            s"((CAST(dl AS DOUBLE) * CAST(${nDocs}L AS DOUBLE)) / CAST(${totTok}L AS DOUBLE))))))))"))
      val scored = contrib.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
      scored.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
        .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
    }),

    // EV11: NDCG@20 RANKING EVAL — the IR-quality leg of the ev
    // family, scored over ts3's BM25 top-20: graded relevance = the
    // matched-query-term count each ranked doc already carries, DCG =
    // Σ rel·disc(pos) with the log2 position discounts baked as 20
    // integer-ppm plan literals (no transcendental at query time),
    // IDCG from the same 20 rows re-ranked by relevance, NDCG in ppm
    // by one integer division. Everything after ts3's corpus stages
    // runs on 20 rows.
    "ev11_ndcg" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val k = 20
      val nDocs = Tables.countStat(s, dir, "documents")
      val totTok = Tables.sumStat(s, dir, "documents", "size(split(text, ' '))")
      val p = postingsTable(s, dir)
      val dl = dlOf(p)
      val tf = p.filter(col("w").isin(queryTerms: _*))
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .withColumn("idfq", expr(s"CAST((${nDocs}L * 1000000L) DIV (df + 1) AS BIGINT)"))
      val contrib = tf.join(broadcast(dft), "w").join(dl, "doc_id")
        .withColumn("c", expr(
          "floor(CAST(idfq AS DOUBLE) * ((CAST(tf AS DOUBLE) * 2.2D) / " +
            "(CAST(tf AS DOUBLE) + (1.2D * (0.25D + (0.75D * " +
            s"((CAST(dl AS DOUBLE) * CAST(${nDocs}L AS DOUBLE)) / CAST(${totTok}L AS DOUBLE))))))))"))
      val ranked = contrib.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(k)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
            .cast("long"))
      val disc = ndcgDiscounts.toDF("pos", "disc_ppm")
      val dcg = ranked.join(broadcast(disc), col("rank") === col("pos"))
        .agg(sum(expr("n_terms * disc_ppm")).as("dcg"))
      val idcg = ranked
        .withColumn("ipos", row_number().over(Window.orderBy(
          col("n_terms").desc, col("doc_id").asc)).cast("long"))
        .join(broadcast(disc), col("ipos") === col("pos"))
        .agg(sum(expr("n_terms * disc_ppm")).as("idcg"))
      dcg.crossJoin(idcg) // two 1-row legs
        .withColumn("ndcg_ppm", expr("dcg * 1000000L DIV idcg"))
    }),

    // TS5: "MORE LIKE THIS" — document-to-document tf-idf similarity
    // (ts1/ts3 rank docs against a QUERY; this ranks doc PAIRS, the
    // related-content/recommendation read). Candidate pairs come from
    // the inverted index: postings self-join per term, with the
    // posting lists df-CAPPED (2 ≤ df ≤ 32) — the classic stop-word/
    // hapax cut that bounds the self-join at Σ df·min(df, cap) and is
    // part of the operator's CONTRACT (the oracle applies the same
    // cap), not a silent truncation. Weights are the rational permille
    // idf (N·1000 DIV (df+1) — no log, ts1's trick) times tf; the
    // score length-normalizes the weight dot by DIV (dl_a + dl_b)
    // (Dice-style), keeping every value an exact integer. Top-20 is
    // a TakeOrdered; the rank window touches 20 rows.
    "ts5_more_like_this" -> ((s, dir) => {
      val nDocs = Tables.countStat(s, dir, "documents")
      val tf = postingsTable(s, dir)
      val dl = dlOf(tf)
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 32)
        .withColumn("idfq", expr(s"${nDocs}L * 1000L DIV (df + 1)"))
      val wts = tf.join(broadcast(dft), "w")
        .select(col("w"), col("doc_id"), (col("tf") * col("idfq")).as("wt"))
      val pairs = wts.as("a")
        .join(wts.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(expr("a.wt * b.wt")).as("dot"), count(lit(1)).as("n_shared"))
      val scored = pairs
        .join(dl.select(col("doc_id").as("doc_a"), col("dl").as("dla")), "doc_a")
        .join(dl.select(col("doc_id").as("doc_b"), col("dl").as("dlb")), "doc_b")
        .withColumn("score", expr("dot DIV (dla + dlb)"))
        .orderBy(col("score").desc, col("doc_a").asc, col("doc_b").asc)
        .limit(20)
      scored.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_a").asc,
          col("doc_b").asc)).cast("long"))
        .select(col("rank"), col("doc_a"), col("doc_b"), col("n_shared"),
          col("score"))
    }),

    // TS6: SPELL CORRECTION by deletion-key blocking (the SymSpell
    // candidate rule, Garbe 2012) — fix the hapax typos a crawl is
    // full of WITHOUT any all-pairs edit-distance scan: a word's
    // candidate set is every dictionary word (count ≥ 5) sharing a
    // delete-1 variant key with it, an EQUI-join on the key; the
    // exact levenshtein == 1 gate then runs only on those candidates
    // (both engines ship classic Levenshtein). Best suggestion =
    // highest count, lexicographic tie-break; report the top-50 by
    // suggestion weight. Everything is WORD-TYPE-table-sized (the
    // BPE/ta8 vocab contract, never corpus-row-sized); keys per word
    // ≤ len+1 ≤ 13, so the key join is vocab-linear.
    "ts6_spell_correct" -> ((s, dir) => {
      // noisy-crawl view: every 7th doc's first word loses one
      // interior character (position keyed by doc_id) — the planted
      // typo stream the corrector must map back to the dictionary
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(explode(expr(
          "concat(array(CASE WHEN doc_id % 7 = 0 AND length(ws[0]) >= 4 " +
            "THEN concat(substring(ws[0], 1, 1 + CAST(doc_id % (length(ws[0]) - 3) AS INT)), " +
            "substring(ws[0], 3 + CAST(doc_id % (length(ws[0]) - 3) AS INT), 20)) " +
            "ELSE ws[0] END), " +
            "slice(ws, 2, greatest(size(ws) - 1, 0)))")).as("w"))
      val vocab = toks.filter(length(col("w")).between(3, 12))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // scale-FREE thresholds off the max count (absolute cutoffs
      // break under corpus growth): dictionary ≥ max/10, suspected
      // typo ≤ max/50 — cross-multiplied so no truncation divergence
      val mx = vocab.agg(max(col("cnt")).as("mx"))
      val banded = vocab.crossJoin(broadcast(mx)) // 1-row scalar, rule (b)
      def delKeys(df: org.apache.spark.sql.DataFrame) = df.select(col("w"), col("cnt"),
        explode(expr("array_distinct(concat(array(w), " +
          "transform(sequence(1, length(w)), " +
          "i -> concat(substring(w, 1, i - 1), substring(w, i + 1, 20)))))"))
          .as("key"))
      val rare = delKeys(banded.filter(col("cnt") * 50 <= col("mx")))
        .select(col("w").as("misspelled"), col("key"))
      val dict = delKeys(banded.filter(col("cnt") * 10 >= col("mx")))
        .select(col("w").as("suggestion"), col("cnt").as("sugg_cnt"), col("key"))
      val wBest = Window.partitionBy(col("misspelled"))
        .orderBy(col("sugg_cnt").desc, col("suggestion").asc)
      rare.join(dict, "key")
        .select(col("misspelled"), col("suggestion"), col("sugg_cnt")).distinct()
        .filter(levenshtein(col("misspelled"), col("suggestion")) === 1)
        .withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .orderBy(col("sugg_cnt").desc, col("misspelled").asc)
        .limit(50)
        .withColumn("rank", row_number().over(Window.orderBy(
          col("sugg_cnt").desc, col("misspelled").asc)).cast("long"))
        .select(col("rank"), col("misspelled"), col("suggestion"),
          col("sugg_cnt"))
    }),

    // TS8: HYBRID RETRIEVAL FUSION — the standard RAG read the search
    // family composes from its two retrieval modalities: each query
    // (the ann query ids < 10; the documents/embeddings id domains are
    // crawl-aligned) retrieves once LEXICALLY and once SEMANTICALLY,
    // and reciprocal-rank fusion merges the rankings at 1/(60 + rank)
    // (Cormack/Clarke/Buettcher's RRF, k=60), held in exact integer
    // ppm (1000000 DIV (60 + rank)) so the fused order is reduction-
    // order-free and the oracle bit-exact. Lexical leg = ts3's BM25
    // scoring generalized per query: the query's terms are its own
    // document's vocabulary under ts5's df-cap (2 <= df <= 32 — the
    // posting-list bound is part of the CONTRACT, the oracle applies
    // it too), top-20 per query. Semantic leg = ll4's cell-pruned
    // cosine top-5 verbatim (the fusion embeds the same code path).
    // A doc ranked by only one leg keeps that leg's contribution —
    // the standard RRF convention, which is exactly why the hybrid
    // recovers a twin that each leg alone ranks second (SearchDriftSpec
    // plants that case). Scale shape: the query-term table (10 queries
    // x df-capped vocab) BROADCASTS against ts1's pre-shuffled
    // matching-token stream — corpus text never moves; both legs are
    // bounded-candidate; the fusion full-outer join and rank windows
    // run at query-set x k grain.
    "ts8_hybrid_rrf" -> ((s, dir) => {
      val vecLeg = Similarity.annTopK(s, dir, sameCell = true)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("v_rank"))
      hybridRrfOf(postingsTable(s, dir),
        Tables.countStat(s, dir, "documents"),
        Tables.sumStat(s, dir, "documents", "size(split(text, ' '))"),
        vecLeg)
    }),

    // TS9: HYBRID RETRIEVAL FROM THE STREAMED INDEXES — ts8's exact
    // fusion read served from the MAINTAINED streamed state (r18
    // verdict "what's missing (c)"): the corpus arrives as three
    // deterministic micro-batches folded through SearchStream
    // (postings + additive df + doc ledger) and VectorStream (frozen
    // IVF-PQ coded + raw stores), LSM-compacted, and ONE read path
    // then serves the hybrid query — BM25 leg over the maintained
    // postings (N from the ledger, token total at index grain),
    // semantic leg = the cell-pruned ADC search over the maintained
    // coded store with exact rerank from the raw store. The oracle
    // re-derives both legs from the raw tables (ts8's BM25 tree +
    // the full IVF-PQ trainer/encoder/search replay), proving the
    // streamed state serves exactly what a batch build would.
    "ts9_hybrid_maintained" -> ((s, dir) => {
      // nDocs/totTok ride the memoized state entry (computed once at
      // fold time — they are state-derived scalars; the NULL-sum empty-
      // store guard lives there too)
      val (state, model, nDocs, totTok) = streamedRetrievalState(s, dir)
      val tf = graft.streaming.SearchStream.readPostings(s, s"$state/search")
      val queries = graft.streaming.VectorStream.readVecs(s, s"$state/vector")
        .map(_.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")))
        .getOrElse(Tables.embeddings(s, dir).limit(0)
          .select(col("vec_id").as("query_id"), col("embedding")))
      val vecLeg = graft.streaming.VectorStream.search(s, s"$state/vector",
          model, queries)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("v_rank"))
      hybridRrfOf(tf, nDocs, totTok, vecLeg)
    }),

    // EV15: HYBRID-RETRIEVAL EVALUATION ON PLANTED TRUTH — closes
    // ts8's loop the way ev14 closed ta32's: the cross-crawl twin
    // corpus (cp5's +1e8 twins — identical %17, token-REORDERED %19,
    // first-word-dropped otherwise; embeddings re-embedded with the
    // 32-dim drift) gives every query a known relevant document, so
    // the fusion can be SCORED, not just computed. Per query (the ann
    // ids < 10, querying with its own base text/embedding against the
    // two-crawl corpus): the twin's rank in the BM25 leg, in the
    // brute-cosine leg, and in the RRF-fused ordering — nulls where a
    // leg misses it entirely. The reordered twins are the designed
    // separation: bag-of-words BM25 scores them identically to the
    // base (rank ~1) while fixed-dim reading of a reordered page
    // still embeds nearby — and pages where one leg slips, the other
    // anchors, which is the number an operator reads to justify
    // running both legs. Corpus-scale work is one twin-corpus
    // tokenize + one vec pass; everything after the leg top-ks is
    // query-set × k grain.
    "ev15_hybrid_retrieval_eval" -> ((s, dir) => {
      val cor = Pipeline.cp5TwinCorpus(s, dir)
      val nDocs = 2L * Tables.countStat(s, dir, "documents")
      // twin-corpus token total: a 1-row scalar action (ts1's corpus-
      // size precedent); the raw-table sumStat can't serve a derived corpus
      val totTok = cor.agg(sum(size(split(col("text"), " ")))).first().getLong(0)
      val toks = cor.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // the eval leg runs UNCAPPED (df >= 2 only): ts8's production
      // df-cap is a posting-list cost bound, but on a template-heavy
      // vocabulary it excludes every term and the leg under test
      // would measure nothing — the eval must rank the planted truth
      // with full BM25, and its cost is query-vocab x posting-length,
      // the price any uncapped BM25 serve pays
      val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
        .withColumn("idfq", expr(s"CAST((${nDocs}L * 1000000L) DIV (df + 1) AS BIGINT)"))
      val qterms = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("w"))
        .join(dft, "w")
      val cand = tf.join(broadcast(qterms), "w")
        .filter(col("doc_id") =!= col("query_id"))
        .join(dl, "doc_id")
        .withColumn("c", expr(
          "floor(CAST(idfq AS DOUBLE) * ((CAST(tf AS DOUBLE) * 2.2D) / " +
            "(CAST(tf AS DOUBLE) + (1.2D * (0.25D + (0.75D * " +
            s"((CAST(dl AS DOUBLE) * CAST(${nDocs}L AS DOUBLE)) / CAST(${totTok}L AS DOUBLE))))))))"))
      val wq = Window.partitionBy(col("query_id"))
      val textLeg = cand.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("c")).as("score"))
        .withColumn("t_rank", row_number().over(
          wq.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("t_rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("t_rank"))
      val e = Pipeline.cp5TwinVecs(s, dir)
        .withColumn("nrm", expr("dot_native(embedding, embedding)"))
      val qv = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))
      val vecLeg = e.join(broadcast(qv), col("vec_id") =!= col("query_id"))
        .withColumn("sim",
          expr("dot_native(q_emb, embedding)") / sqrt(col("q_nrm") * col("nrm")))
        .withColumn("v_rank", row_number().over(
          wq.orderBy(col("sim").desc, col("vec_id").asc)).cast("long"))
        .filter(col("v_rank") <= 5)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("v_rank"))
      val fused = textLeg.join(vecLeg, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_ppm",
          coalesce(expr("1000000L DIV (60 + t_rank)"), lit(0L)) +
            coalesce(expr("1000000L DIV (60 + v_rank)"), lit(0L)))
        .withColumn("fused_rank", row_number().over(
          wq.orderBy(col("rrf_ppm").desc, col("doc_id").asc)).cast("long"))
      val twinRanks = fused
        .filter(col("doc_id") === col("query_id") + 100000000L)
        .select(col("query_id"), col("t_rank"), col("v_rank"), col("fused_rank"))
      qv.select(col("query_id")).join(twinRanks, Seq("query_id"), "left")
    })
  )

  val oracles: Map[String, String] = Map(
    "ts1_keyword_search" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
                 WHERE w IN $termList GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
          n AS (SELECT COUNT(*) AS n FROM documents),
          sc AS (SELECT doc_id,
                   CAST(SUM(tf * ((n.n * 1000000) // (df + 1))) AS BIGINT) AS score,
                   COUNT(*) AS n_terms
                 FROM tf JOIN dft USING (w) CROSS JOIN n GROUP BY doc_id)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                 doc_id, score, n_terms
          FROM sc ORDER BY score DESC, doc_id LIMIT 20""",
    "ts2_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w)
                   ORDER BY c DESC, w LIMIT 20)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
             / COUNT(*) AS oov_rate
         FROM tok LEFT JOIN vocab v ON tok.w = v.w
         GROUP BY doc_id""",
    "ts4_phrase_search" ->
      """WITH tok AS (
           SELECT doc_id, i - 1 AS pos, w[i] AS w
           FROM (SELECT doc_id, string_split(text, ' ') AS w,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
                 FROM documents)),
         hits AS (
           SELECT a.doc_id, COUNT(*) AS n_hits
           FROM tok a JOIN tok b
             ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           WHERE a.w = 'join' AND b.w = 'column'
           GROUP BY a.doc_id
           ORDER BY n_hits DESC, a.doc_id LIMIT 20)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_hits DESC, doc_id) AS BIGINT) AS rank,
                doc_id, n_hits
         FROM hits""",
    // the saturation factor's expression tree is pinned to the engine's
    // shape parenthesis-for-parenthesis so the per-row doubles match
    // bit-for-bit; sums are over the floor-quantized BIGINTs only
    "ts3_bm25" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
                 WHERE w IN $termList GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
          n AS (SELECT COUNT(*) AS n FROM documents),
          tt AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM documents),
          c AS (SELECT tf.doc_id,
                  CAST(floor(CAST((n.n * 1000000) // (df + 1) AS DOUBLE) *
                    ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                     (CAST(tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                       (CAST(0.75 AS DOUBLE) *
                        ((CAST(dl AS DOUBLE) * CAST(n.n AS DOUBLE)) / CAST(tt.tot AS DOUBLE)))))))) AS BIGINT) AS c
                FROM tf JOIN dft USING (w) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN tt),
          sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score, COUNT(*) AS n_terms
                 FROM c GROUP BY doc_id)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
                 doc_id, score, n_terms
          FROM sc ORDER BY score DESC, doc_id LIMIT 20""",
    // ts3's ranking CTEs + the SAME 20 discount literals; ideal
    // re-rank by (relevance DESC, doc_id) in both engines
    "ev11_ndcg" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
                 WHERE w IN $termList GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
          n AS (SELECT COUNT(*) AS n FROM documents),
          tt AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM documents),
          c AS (SELECT tf.doc_id,
                  CAST(floor(CAST((n.n * 1000000) // (df + 1) AS DOUBLE) *
                    ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                     (CAST(tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                       (CAST(0.75 AS DOUBLE) *
                        ((CAST(dl AS DOUBLE) * CAST(n.n AS DOUBLE)) / CAST(tt.tot AS DOUBLE)))))))) AS BIGINT) AS c
                FROM tf JOIN dft USING (w) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN tt),
          sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score, COUNT(*) AS n_terms
                 FROM c GROUP BY doc_id),
          rk AS (SELECT doc_id, n_terms,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
                 FROM sc ORDER BY score DESC, doc_id LIMIT 20),
          disc(pos, disc_ppm) AS (VALUES $discountValues),
          dcg AS (SELECT CAST(SUM(n_terms * disc_ppm) AS BIGINT) AS dcg
                  FROM rk JOIN disc ON rank = pos),
          ik AS (SELECT n_terms,
                   CAST(ROW_NUMBER() OVER (ORDER BY n_terms DESC, doc_id) AS BIGINT) AS ipos
                 FROM rk),
          idcg AS (SELECT CAST(SUM(n_terms * disc_ppm) AS BIGINT) AS idcg
                   FROM ik JOIN disc ON ipos = pos)
          SELECT dcg, idcg, CAST(dcg * 1000000 // idcg AS BIGINT) AS ndcg_ppm
          FROM dcg CROSS JOIN idcg""",
    // same df cap, rational permille idf, and Dice length DIV — every
    // value an exact integer both engines agree on
    "ts5_more_like_this" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                      FROM documents),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          n AS (SELECT COUNT(*) AS n FROM documents),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w
                  HAVING COUNT(*) BETWEEN 2 AND 32),
          wts AS (SELECT w, doc_id,
                    CAST(tf * (n.n * 1000 // (df + 1)) AS BIGINT) AS wt
                  FROM tf JOIN dft USING (w) CROSS JOIN n),
          pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(SUM(a.wt * b.wt) AS BIGINT) AS dot,
                   COUNT(*) AS n_shared
                 FROM wts a JOIN wts b
                   ON a.w = b.w AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
          sc AS (SELECT doc_a, doc_b, n_shared,
                   CAST(dot // (la.dl + lb.dl) AS BIGINT) AS score
                 FROM pr JOIN dl la ON pr.doc_a = la.doc_id
                 JOIN dl lb ON pr.doc_b = lb.doc_id)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_a, doc_b)
                   AS BIGINT) AS rank,
                 doc_a, doc_b, n_shared, score
          FROM sc ORDER BY score DESC, doc_a, doc_b LIMIT 20""",
    // same deletion-key blocking + exact levenshtein gate; DuckDB's
    // levenshtein is the same classic distance
    "ts6_spell_correct" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents WHERE len(string_split(text, ' ')) >= 1),
          tok AS (SELECT unnest(list_concat(
                   [CASE WHEN doc_id % 7 = 0 AND len(ws[1]) >= 4
                         THEN substr(ws[1], 1, 1 + doc_id % (len(ws[1]) - 3))
                              || substr(ws[1], 3 + doc_id % (len(ws[1]) - 3), 20)
                         ELSE ws[1] END],
                   ws[2:])) AS w
                 FROM b),
          v AS (SELECT w, COUNT(*) AS cnt FROM tok
                WHERE len(w) BETWEEN 3 AND 12 GROUP BY w),
          mx AS (SELECT MAX(cnt) AS mx FROM v),
          rk AS (SELECT w AS misspelled, unnest(list_distinct(
                   list_prepend(w, list_transform(range(1, len(w) + 1),
                     i -> substr(w, 1, i - 1) || substr(w, i + 1, 20))))) AS key
                 FROM v CROSS JOIN mx WHERE cnt * 50 <= mx),
          dk AS (SELECT w AS suggestion, cnt AS sugg_cnt, unnest(list_distinct(
                   list_prepend(w, list_transform(range(1, len(w) + 1),
                     i -> substr(w, 1, i - 1) || substr(w, i + 1, 20))))) AS key
                 FROM v CROSS JOIN mx WHERE cnt * 10 >= mx),
          cand AS (SELECT DISTINCT misspelled, suggestion, sugg_cnt
                   FROM rk JOIN dk USING (key)
                   WHERE levenshtein(misspelled, suggestion) = 1),
          best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY misspelled
                     ORDER BY sugg_cnt DESC, suggestion ASC) AS rk
                   FROM cand),
          top AS (SELECT misspelled, suggestion, CAST(sugg_cnt AS BIGINT)
                    AS sugg_cnt
                  FROM best WHERE rk = 1
                  ORDER BY sugg_cnt DESC, misspelled ASC LIMIT 50)
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY sugg_cnt DESC,
              misspelled ASC) AS BIGINT) AS rank,
            misspelled, suggestion, sugg_cnt
          FROM top""",
    // ts3's pinned contrib tree per query (query terms = the query
    // doc's vocabulary under ts5's df cap), ll4's oracle embedded
    // verbatim as the semantic leg, RRF in exact integer ppm
    "ts8_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w
                  HAVING COUNT(*) BETWEEN 2 AND 32),
          n AS (SELECT COUNT(*) AS n FROM documents),
          tt AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM documents),
          qt AS (SELECT DISTINCT doc_id AS query_id, w FROM tok WHERE doc_id < 10),
          c AS (SELECT qt.query_id, tf.doc_id,
                  CAST(floor(CAST((n.n * 1000000) // (df + 1) AS DOUBLE) *
                    ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                     (CAST(tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                       (CAST(0.75 AS DOUBLE) *
                        ((CAST(dl AS DOUBLE) * CAST(n.n AS DOUBLE)) / CAST(tt.tot AS DOUBLE)))))))) AS BIGINT) AS c
                FROM tf JOIN dft USING (w) JOIN qt USING (w) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN tt
                WHERE tf.doc_id <> qt.query_id),
          sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
                 FROM c GROUP BY 1, 2),
          tr AS (SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS t_rank
                 FROM sc QUALIFY t_rank <= 20),
          vr AS (SELECT query_id, neighbor_id AS doc_id, rank AS v_rank
                 FROM (${Similarity.annOracleIvf})),
          f AS (SELECT query_id, doc_id,
                  CAST(COALESCE(1000000 // (60 + t_rank), 0)
                     + COALESCE(1000000 // (60 + v_rank), 0) AS BIGINT) AS rrf_ppm,
                  t_rank, v_rank
                FROM tr FULL OUTER JOIN vr USING (query_id, doc_id))
          SELECT query_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rank,
            doc_id, rrf_ppm, t_rank, v_rank
          FROM f QUALIFY rank <= 10""",
    // ts9: ts8's fusion tree re-derived from the RAW tables, with the
    // semantic leg = the full IVF-PQ trainer/encoder/search replay —
    // what the maintained streamed stores must serve exactly
    "ts9_hybrid_maintained" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w
                  HAVING COUNT(*) BETWEEN 2 AND 32),
          n AS (SELECT COUNT(*) AS n FROM documents),
          tt AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM documents),
          qt AS (SELECT DISTINCT doc_id AS query_id, w FROM tok WHERE doc_id < 10),
          c AS (SELECT qt.query_id, tf.doc_id,
                  CAST(floor(CAST((n.n * 1000000) // (df + 1) AS DOUBLE) *
                    ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                     (CAST(tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                       (CAST(0.75 AS DOUBLE) *
                        ((CAST(dl AS DOUBLE) * CAST(n.n AS DOUBLE)) / CAST(tt.tot AS DOUBLE)))))))) AS BIGINT) AS c
                FROM tf JOIN dft USING (w) JOIN qt USING (w) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN tt
                WHERE tf.doc_id <> qt.query_id),
          sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
                 FROM c GROUP BY 1, 2),
          tr AS (SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS t_rank
                 FROM sc QUALIFY t_rank <= 20),
          vr AS (SELECT query_id, neighbor_id AS doc_id, rank AS v_rank
                 FROM (${Similarity.ivfPqAnnSql("", "qe", "embeddings")})),
          f AS (SELECT query_id, doc_id,
                  CAST(COALESCE(1000000 // (60 + t_rank), 0)
                     + COALESCE(1000000 // (60 + v_rank), 0) AS BIGINT) AS rrf_ppm,
                  t_rank, v_rank
                FROM tr FULL OUTER JOIN vr USING (query_id, doc_id))
          SELECT query_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS rank,
            doc_id, rrf_ppm, t_rank, v_rank
          FROM f QUALIFY rank <= 10""",
    // the cp5 twin-corpus CTEs verbatim, ts8's pinned ranking trees
    // over them, and the twin's rank per method via one filtered join
    "ev15_hybrid_retrieval_eval" ->
      s"""WITH cor AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000000,
              CASE WHEN doc_id % 17 = 0 THEN text
                   WHEN doc_id % 19 = 3
                     THEN array_to_string(list_reverse(string_split(text, ' ')), ' ')
                   ELSE substr(text, strpos(text, ' ') + 1) END
            FROM documents),
          ecorpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM cor),
          dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
          tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
          dft AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w
                  HAVING COUNT(*) >= 2),
          n AS (SELECT 2 * COUNT(*) AS n FROM documents),
          tt AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM cor),
          qt AS (SELECT doc_id AS query_id, w FROM tf WHERE doc_id < 10),
          c AS (SELECT qt.query_id, tf.doc_id,
                  CAST(floor(CAST((n.n * 1000000) // (df + 1) AS DOUBLE) *
                    ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
                     (CAST(tf AS DOUBLE) + (CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                       (CAST(0.75 AS DOUBLE) *
                        ((CAST(dl AS DOUBLE) * CAST(n.n AS DOUBLE)) / CAST(tt.tot AS DOUBLE)))))))) AS BIGINT) AS c
                FROM tf JOIN dft USING (w) JOIN qt USING (w) JOIN dl USING (doc_id)
                CROSS JOIN n CROSS JOIN tt
                WHERE tf.doc_id <> qt.query_id),
          sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score
                 FROM c GROUP BY 1, 2),
          tr AS (SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS t_rank
                 FROM sc QUALIFY t_rank <= 20),
          e AS (SELECT vec_id, embedding, ${Similarity.normSql} AS nrm FROM ecorpus),
          qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
                 FROM e WHERE vec_id < 10),
          pv AS (SELECT query_id, vec_id,
                   list_sum(list_transform(range(1, 65),
                     i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
                   q_nrm, nrm
                 FROM qv, e WHERE vec_id <> query_id),
          vr AS (SELECT query_id, vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY dot / sqrt(q_nrm * nrm) DESC, vec_id) AS BIGINT) AS v_rank
                 FROM pv QUALIFY v_rank <= 5),
          f AS (SELECT query_id, doc_id,
                  CAST(COALESCE(1000000 // (60 + t_rank), 0)
                     + COALESCE(1000000 // (60 + v_rank), 0) AS BIGINT) AS rrf_ppm,
                  t_rank, v_rank
                FROM tr FULL OUTER JOIN vr USING (query_id, doc_id)),
          fr AS (SELECT query_id, doc_id, t_rank, v_rank,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS fused_rank
                 FROM f),
          tw AS (SELECT query_id, t_rank, v_rank, fused_rank
                 FROM fr WHERE doc_id = query_id + 100000000)
          SELECT q.query_id, tw.t_rank, tw.v_rank, tw.fused_rank
          FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
          LEFT JOIN tw USING (query_id)"""
  )
}
