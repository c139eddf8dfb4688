package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed corpus-intake pipeline — the end-to-end shape a
  * training-data run actually executes, assembled from the library's
  * own stages rather than re-implemented: exact dedup (ll1's
  * hash-group semantics) → language ID (ta1's stage) → quality gate
  * (ta2's stage) → per-(language, verdict) intake ledger. The point
  * the oracle checks is COMPOSITION: each stage's output feeds the
  * next inside one Catalyst plan, so the optimizer sees the whole
  * pipeline (the dedup window and the final aggregate are the only
  * shuffles; lang + quality fuse into the same codegen'd stage).
  *
  * At 100 TB this is one pass over the corpus plus one md5-keyed
  * shuffle — the intake ledger (a few rows per language × verdict) is
  * what lands in the run report.
  */
object Pipeline {


  /** cp6's substring window width. 15 tokens (ll15's threshold), NOT
    * ll33's 50: this corpus's quality gate caps survivors at 100
    * words, so a >= 50-token shared passage is also a MinHash near-dup
    * (J > 0.5) and the near-dedup gate would eat the substring stage's
    * prey before it runs — at this doc-length profile the right
    * operating point is the smaller published threshold.
    */
  private[graft] val cp6W = 15

  /** The 24-token planted passage for cp6's substring stage: longer
    * than cp6W so occurrences merge into one maximal run, short enough
    * that two planted ~100-word survivors share only ~22 of ~120
    * shingles (J ~ 0.18, far below the near-dup gate) — the passage
    * reaches the substring stage instead of being doc-deduped away.
    * 24 distinct synthetic words; interpolated verbatim into the
    * oracle SQL.
    */
  private[graft] val cp6Passage: String =
    (1 to 24).map(i => f"boiler$i%02d").mkString(" ")

  /** cp6's corpus: cp5's two-crawl twin mix plus the planted
    * boilerplate passage appended to docs that stay inside the quality
    * gate's length band after the plant (the deterministic rule is
    * mirrored in the oracle). Models template/license boilerplate
    * repeated across otherwise-distinct crawl pages — exactly what
    * substring dedup exists to cut and doc-level dedup cannot see.
    */
  private[graft] def cp6Corpus(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    cp6CorpusOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  /** cp6Corpus as a pure per-doc transform of the base (doc_id, text)
    * crawl — the factored form the maintained window index's per-doc
    * splice re-runs on fresh delta docs (Dedup.refreshIncrementally).
    */
  private[operators] def cp6CorpusOf(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cp5TwinCorpusOf(base).withColumn("text",
      when(col("doc_id") % 5 === 1 && size(split(col("text"), " ")) <= 76,
        concat(col("text"), lit(" " + cp6Passage))).otherwise(col("text")))

  /** cp5's mixed second crawl — stable pages re-crawl IDENTICAL
    * (doc_id % 17 = 0, the exact-dedup gate's prey), template
    * re-renders keep the bag of words but reorder it (% 19 = 3 —
    * 3-gram Jaccard ≈ 0, invisible to MinHash, but the re-embedding
    * is near-identical, so ONLY the semantic gate catches these),
    * everything else drifts by the standard first-word perturbation
    * (the near-dedup gate's prey). Exposed so the streaming sibling
    * can feed the SAME corpus through the fold.
    */
  private[graft] def cp5TwinCorpus(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame =
    cp5TwinCorpusOf(Tables.documents(s, dir).select(col("doc_id"), col("text")))

  private[operators] def cp5TwinCorpusOf(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val twins = base.select((col("doc_id") + 100000000L).as("doc_id"),
      when(col("doc_id") % 17 === 0, col("text"))
        .when(col("doc_id") % 19 === 3,
          concat_ws(" ", reverse(split(col("text"), " "))))
        .otherwise(expr("substring(text, instr(text, ' ') + 1)")).as("text"))
    base.unionByName(twins)
  }

  /** The MAINTAINED cp6W-token window-hash index over cp6's corpus —
    * substrWinTable at the release pipeline's operating point.
    */
  private[graft] def cp6WinTable(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    Dedup.materializedTable(s, dir, "cp6wintable")(
      Dedup.windowHashes(cp6Corpus(s, dir), cp6W))

  /** The crawl-aligned embedding snapshots (the second crawl's
    * re-embeddings are the +1e8-id perturbed twins).
    */
  private[graft] def cp5TwinVecs(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val embBase = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val embTwin = embBase.select((col("vec_id") + 100000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> IF(i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x))")
        .as("embedding"))
    embBase.unionByName(embTwin)
  }

  /** Hyperplane-bucketed vectors for the semantic gate:
    * (vec_id, embedding, nrm, bucket) with an 8-bit sign bucket.
    */
  private[graft] def cp5BucketedVecs(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val d = (0 until 8).foldLeft(Similarity.withNorm(emb)) { (df, j) =>
      df.withColumn(s"d$j", Similarity.dotExpr("embedding",
        s"array(${Similarity.hyperplane(j, 64).mkString(",")})"))
    }
    d.withColumn("bucket", (0 until 8).map(j =>
        when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("bucket"))
  }

  /** Cosine similarity of two aliased bucketed-vec sides. */
  private[graft] def cp5CosSim: Column =
    Similarity.dotExpr("x.embedding", "y.embedding") /
      sqrt(col("x.nrm") * col("y.nrm"))

  /** ll31's 13-gram projection (gate 4's feature space). */
  private[graft] def cp5Grams(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
    .withColumn("ws", split(col("text"), " "))
    .filter(size(col("ws")) >= 13)
    .select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(0, size(ws) - 13), i -> " +
        "CAST(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, 13))), 1, 15), " +
        "16, 10) AS BIGINT))"))).as("g"))

  /** Gate 4 over an arbitrary (doc_id, text) frame: ll31's exact
    * 13-gram GPT-3 rule against the static benchmark holdout
    * (doc_id % 41 = 0 of the base crawl) — 'drop' verdict only
    * (>= 80% of the doc's grams contaminated).
    */
  private[graft] def cp5DeconDrop(s: org.apache.spark.sql.SparkSession, dir: String,
                                  cor: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val benchG = cp5Grams(Tables.documents(s, dir)
        .filter(col("doc_id") % 41 === 0).select(col("doc_id"), col("text")))
      .select(col("g")).distinct()
    cp5Grams(cor)
      .join(broadcast(benchG.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .filter(col("n_contaminated") * 5 >= col("n_grams") * 4)
      .select(col("doc_id")).withColumn("decon_drop", lit(true))
  }

  /** Gate 6 over an arbitrary (doc_id, text) frame: ta26's surprisal
    * against the maintained KN bigram LM trained on the base crawl
    * (a trained artifact — STATIC under streaming, like the holdout).
    */
  private[graft] def cp5PplDrop(s: org.apache.spark.sql.SparkSession, dir: String,
                                cor: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val lm = TextAnalysis.knBigramLmTable(s, dir)
      .select(col("w1"), col("w2"), col("p_kn_ppm"))
    cor
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
      .join(lm, Seq("w1", "w2"))
      .withColumn("x",
        expr("greatest(1L, 1000000 DIV greatest(1L, p_kn_ppm))"))
      .withColumn("e", expr(TextAnalysis.log2ExpCase))
      .withColumn("m", expr("(x * 8) DIV shiftleft(1L, CAST(e AS INT))"))
      .withColumn("s_mb", expr(
        s"CAST(e * 1000 + (${TextAnalysis.log2FracCase}) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_mb")).as("surprisal_mb"))
      .filter(expr("surprisal_mb DIV n_bigrams") > 4800L)
      .select(col("doc_id")).withColumn("ppl_drop", lit(true))
  }

  /** First-gate-wins attribution CASE over the joined flag columns. */
  private[graft] def cp5GateCol: Column =
    when(col("exact_dup"), "exact_dedup")
      .when(col("near_dup"), "near_dedup")
      .when(col("sem_dup"), "semantic_dedup")
      .when(col("doc_id") % 41 === 0 && col("doc_id") < 100000000L,
        "decontamination") // the benchmark holdout itself
      .when(col("decon_drop"), "decontamination")
      .when(col("verdict") =!= "keep", "quality")
      .when(col("ppl_drop"), "perplexity")

  /** cp5's per-doc gate attribution — gates 1-6 of the pretraining
    * release over an arbitrary (corpus, embeddings) pair,
    * first-gate-wins. Output: (doc_id, nt, gate) with gate NULL for
    * survivors. Parameterized over the input frames so the streaming
    * sibling's equivalence spec can run it on arrival PREFIXES; the
    * batch query passes the full twin corpus. See the query's header
    * comment for the gate-by-gate design.
    */
  private[graft] def cp5AttributionOf(s: org.apache.spark.sql.SparkSession, dir: String,
                                      cor: org.apache.spark.sql.DataFrame,
                                      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // gates 1 + 5 ride the same scan: content-hash window + ta2 row flags
    val wEx = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    val flagged = TextAnalysis.withQualityVerdict(
        cor.withColumn("h", md5(col("text")))
          .withColumn("ws", split(col("text"), " ")))
      .withColumn("exact_dup", row_number().over(wEx) > 1)
      .select(col("doc_id"), col("n_words").as("nt"), col("verdict"),
        col("exact_dup"))
    // gate 2: near-dup among exact survivors (signatures built over
    // THIS corpus — the custom twin mix isn't the maintained
    // index's; per-doc signatures depend only on the doc itself)
    val surv1 = flagged.filter(!col("exact_dup")).select(col("doc_id"))
    val sigs1 = Dedup.minhashSignatures(
      Dedup.shingles(cor.join(surv1, "doc_id")))
    val nearDrop = Dedup.verifyPairs(Dedup.bandCandidates(sigs1), sigs1)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dup", lit(true))
    // gate 3: embedding near-dup. The bucketed frame feeds both sides
    // of the self-join un-persisted: the identical child subplans
    // shuffle on the same bucket key, so ReuseExchange computes them
    // once — and this whole build runs once per corpus snapshot anyway.
    val bucketed = cp5BucketedVecs(emb)
    val semDrop = bucketed.as("x").join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("sim", cp5CosSim)
      .filter(col("sim") >= 0.8)
      .select(col("y.vec_id").as("doc_id")).distinct()
      .withColumn("sem_dup", lit(true))
    val deconDrop = cp5DeconDrop(s, dir, cor)
    val pplDrop = cp5PplDrop(s, dir, cor)
    // attribution: first gate wins
    flagged
      .join(nearDrop, Seq("doc_id"), "left")
      .join(semDrop, Seq("doc_id"), "left")
      .join(broadcast(deconDrop), Seq("doc_id"), "left")
      .join(pplDrop, Seq("doc_id"), "left")
      .withColumn("gate", cp5GateCol)
      .select(col("doc_id"), col("nt"), col("gate"))
  }

  private def cp5Attribution(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    cp5AttributionOf(s, dir, cp5TwinCorpus(s, dir), cp5TwinVecs(s, dir))

  /** cp6's attribution: cp5's six doc-level gates, then the substring
    * stage computed over the SURVIVOR corpus only — the Lee et al.
    * pipeline order (ExactSubstr runs on the doc-deduped corpus: on
    * the raw two-crawl mix every exact twin's full text would count
    * its own windows as duplicated and the stage would shred documents
    * the doc-level gates already handle). Output adds `cut` (tokens
    * covered by duplicated >= cp6W-token windows; 0 for gated docs and
    * clean survivors), via the SAME Dedup.duplicatedSpans path
    * ll15/ll33 use. Parameterized over the input frames so the
    * streaming sibling's equivalence spec can run it on arrival
    * prefixes.
    */
  private[graft] def cp6AttributionOf(s: org.apache.spark.sql.SparkSession, dir: String,
                                      cor: org.apache.spark.sql.DataFrame,
                                      emb: org.apache.spark.sql.DataFrame,
                                      winTable: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val att = cp5AttributionOf(s, dir, cor, emb)
    val survIds = att.filter(col("gate").isNull).select(col("doc_id"))
    val spans = winTable match {
      case Some(wt) =>
        // windows are a per-doc derivation, so the maintained
        // full-corpus index filtered to survivors ≡ windowing the
        // survivor corpus; the duplicate threshold then counts across
        // survivors only — the Lee et al. pipeline-order contract the
        // recompute path below implements directly
        val wins = wt.join(survIds, "doc_id")
        val freq = wins.groupBy(col("whash")).agg(count(lit(1)).as("cnt"))
        Dedup.spansOfDupPositions(
          wins.join(freq, "whash").filter(col("cnt") >= 2L)
            .select(col("doc_id"), col("pos"), (col("pos") + (cp6W - 1)).as("fin")))
      case None =>
        Dedup.duplicatedSpans(cor.join(survIds, "doc_id"), w = cp6W)
    }
    val cuts = spans
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("cut"))
    att.join(cuts, Seq("doc_id"), "left")
      .withColumn("cut", coalesce(col("cut"), lit(0L)))
  }

  /** The release DESIGN over an attribution table — gates 7+8 plus
    * the conservation ledger: PPS token sampling to a 100-unit
    * budget, deterministic 80/10/10 splits, 2000-token shard packing,
    * per-gate attrition rows and the conservation-visible input row.
    * A pure function of `att` (plus the static sqrt-bucket layout
    * knob from dir), so the streaming fold recomputes it per batch
    * boundary from the ACCUMULATED attribution — the design is
    * att-sized (ids + token counts), never corpus-text-sized.
    *
    * With `withCut = true` (cp6), `att` carries a `cut` column: tokens
    * removed from each SURVIVOR by the substring-dedup rewrite. The
    * rewrite changes what flows downstream — PPS sampling, splits and
    * shard packing all run on the POST-CUT token counts — and the
    * ledger gains the `cut:substr` attribution row (docs touched,
    * tokens removed). Conservation then reads: input tokens = Σ gate
    * rows + cut:substr + pps_sampled_out + Σ shards; input DOCS
    * conserve over the same rows MINUS cut:substr (a cut doc still
    * ships — the row attributes its removed tokens, not the doc).
    */
  private[graft] def cp5ReleaseOf(s: org.apache.spark.sql.SparkSession, dir: String,
                                  att: org.apache.spark.sql.DataFrame,
                                  withCut: Boolean = false): org.apache.spark.sql.DataFrame = {
    // gate 7: PPS to 100 units over the survivors (ta23's two-level
    // sqrt-bucketed cumsum; the unit step is an in-plan scalar).
    // Survivor token counts are post-rewrite when cuts are in play.
    val surv =
      if (withCut) att.filter(col("gate").isNull)
        .select(col("doc_id"), (col("nt") - col("cut")).as("nt"))
      else att.filter(col("gate").isNull).select(col("doc_id"), col("nt"))
    val maxId = Tables.maxIdStat(s, dir, "documents", "doc_id")
    val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
    val d7 = surv.withColumn("bucket", expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)"))
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val local = d7.withColumn("cum_local", sum(col("nt")).over(wLocal))
    val wPrefix = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = d7.groupBy(col("bucket")).agg(sum(col("nt")).as("btot"))
      .withColumn("prefix", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
      .select(col("bucket"), col("prefix"))
    val tot = surv.agg(sum(col("nt")).as("tot"))
    val pps = local.join(prefix, "bucket")
      .withColumn("cum", col("prefix") + col("cum_local"))
      .crossJoin(broadcast(tot)) // 1-row scalar, rule (b)
      .withColumn("n_units", expr(
        "cum DIV greatest(1L, tot DIV 100) - (cum - nt) DIV greatest(1L, tot DIV 100)"))
    // gate 8: splits + shard packing over the sampled release
    val bucket100 = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(100L))
    val sp = pps.filter(col("n_units") > 0L)
      .withColumn("split",
        when(bucket100 < 80, "train").when(bucket100 < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("split"), col("nt"),
        expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)").as("bucket"))
    val shards = cp5ShardsOf(sp)
    // the ledger + manifest + the conservation-visible input row
    val gates = att.filter(col("gate").isNotNull)
      .groupBy(col("gate"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(concat(lit("gate:"), col("gate")).as("stage"),
        col("n_docs"), col("n_tokens"))
    val ppsOut = pps.filter(col("n_units") === 0L)
      .groupBy(lit("gate:pps_sampled_out").as("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val input = att.agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(lit("input").as("stage"), col("n_docs"), col("n_tokens"))
    val base = gates.unionByName(ppsOut).unionByName(shards).unionByName(input)
    if (!withCut) base
    else base.unionByName(
      // the rewrite's attribution row: docs touched + tokens removed
      // (always present — a zero row keeps the ledger schema stable)
      att.filter(col("gate").isNull && col("cut") > 0L)
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("cut")), lit(0L)).as("n_tokens"))
        .select(lit("cut:substr").as("stage"), col("n_docs"), col("n_tokens")))
  }

  /** Shard packing over the PPS-sampled release — gate 8's second
    * half, factored out so the batch release and ReleaseStream's
    * incremental fold share the EXACT code path (their equivalence
    * contract then reduces to agreeing on the sampled set). Input is
    * (doc_id, split, nt, bucket); output the per-(split, shard)
    * manifest rows. ta6's two-level prefix per split: local cumsums
    * partition on (split, bucket), the per-split bucket-prefix window
    * input is the row-collapsed bucket-total table.
    */
  private[graft] def cp5ShardsOf(sp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wL2 = Window.partitionBy(col("split"), col("bucket")).orderBy(col("doc_id"))
    val local2 = sp.withColumn("cum_local", sum(col("nt")).over(wL2))
    val wP2 = Window.partitionBy(col("split")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix2 = sp.groupBy(col("split"), col("bucket")).agg(sum(col("nt")).as("btot"))
      .withColumn("prefix", coalesce(sum(col("btot")).over(wP2), lit(0L)))
      .select(col("split"), col("bucket"), col("prefix"))
    local2.join(prefix2, Seq("split", "bucket"))
      .withColumn("shard_id",
        expr("CAST((prefix + cum_local - nt) DIV 2000 AS BIGINT)"))
      .groupBy(col("split"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(concat(lit("shard:"), col("split"), lit(":"), col("shard_id")).as("stage"),
        col("n_docs"), col("n_tokens"))
  }

  val defs: Map[String, Q] = Map(
    "cp1_corpus_intake" -> ((s, dir) => {
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val deduped = Tables.documents(s, dir)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val staged = TextAnalysis.withQualityVerdict(
        TextAnalysis.withLangPrediction(
          deduped.withColumn("ws", split(col("text"), " "))))
      staged.groupBy(col("predicted"), col("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),

    // Composed TRAINING-SET BUILD — the full release pipeline as ONE
    // Catalyst plan, each stage reusing the library's own semantics:
    // exact dedup (ll1) → quality gate (ta2's stage) → benchmark
    // decontamination (ll10's broadcast inverted-index probe, bench
    // docs themselves excluded) → deterministic splits (ta15's hash
    // rule) → per-split token-budget shard packing (ta6's prefix sum,
    // partitioned by split). Output is the release manifest: docs and
    // tokens per (split, shard). Scale shape: one corpus pass + the
    // md5 dedup shuffle + the shingle probe (training side never
    // self-joins) + per-split prefix windows whose inputs are
    // row-collapsed aggregates.
    "cp2_training_set" -> ((s, dir) => {
      val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      val deduped = Tables.documents(s, dir)
        .withColumn("h", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val quality = TextAnalysis.withQualityVerdict(
          deduped.withColumn("ws", split(col("text"), " ")))
        .filter(col("verdict") === "keep")
        .select(col("doc_id"), col("text"), col("n_words"))
      val benchSh = Dedup.shingles(
          Tables.documents(s, dir).filter(col("doc_id") % 10 === 0))
        .select(col("sh")).distinct()
      val contaminated = Dedup.shingles(quality.select(col("doc_id"), col("text")))
        .join(broadcast(benchSh), "sh")
        .groupBy(col("doc_id")).agg(countDistinct(col("sh")).as("nsh"))
        .filter(col("nsh") >= 5).select(col("doc_id"))
      val bucket = pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(100L))
      val split3 = quality
        .filter(col("doc_id") % 10 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("split"), col("n_words").as("nt"))
      // ta6's two-level prefix, per split: local cumsums partition on
      // (split, sqrt-sized doc bucket); the per-split bucket-prefix
      // window input is the row-collapsed bucket-total table
      val budget = 2000L
      val maxId = Tables.maxIdStat(s, dir, "documents", "doc_id")
      val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
      val d = split3.withColumn("bucket", expr(s"CAST(doc_id DIV $bucketSize AS BIGINT)"))
      val wLocal = Window.partitionBy(col("split"), col("bucket")).orderBy(col("doc_id"))
      val local = d.withColumn("cum_local", sum(col("nt")).over(wLocal))
      val wPrefix = Window.partitionBy(col("split")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = d.groupBy(col("split"), col("bucket")).agg(sum(col("nt")).as("btot"))
        .withColumn("prefix", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
        .select(col("split"), col("bucket"), col("prefix"))
      local.join(prefix, Seq("split", "bucket"))
        .withColumn("shard_id",
          expr(s"CAST((prefix + cum_local - nt) DIV $budget AS BIGINT)"))
        .groupBy(col("split"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    }),

    // CP5: the FULL PRETRAINING-DATA RELEASE — the cp family's
    // capstone: every curation stage the library ships, composed in
    // execution order over the two-crawl corpus, with a per-stage
    // ATTRITION LEDGER (each document is attributed to the FIRST gate
    // that drops it) and the release manifest (per-split shard rows).
    // Stages, each reusing the named operator's exact semantics:
    //   1 exact dedup (ll1: keep min doc_id per content hash)
    //   2 MinHash near-dup among exact survivors (ll2: band
    //     candidates verified at >= 8/16 matching signature
    //     components ~ J >= 0.5; keep-min resolution)
    //   3 semantic dedup (ll8's hyperplane-bucketed cosine >= 0.8) on
    //     the crawl-aligned embedding snapshots (the second crawl's
    //     re-embeddings are the +1e8-id perturbed twins) — catches
    //     the reordered-template twins whose 3-gram Jaccard is ~0,
    //     invisible to MinHash
    //   4 decontamination: the benchmark slice itself (doc_id % 41 =
    //     0, the eval holdout) plus ll31's exact 13-gram GPT-3 rule
    //     ('drop' verdict = >= 80% of the doc's grams contaminated)
    //   5 quality gate (ta2's verdict)
    //   6 perplexity gate (ta26's KN mean surprisal > 4800 milli-bits)
    //   7 PPS token sampling to a 100-unit budget (ta23: docs whose
    //     cumulative-token span crosses no unit boundary sample out)
    //   8 deterministic splits (ta15's hash rule, 80/10/10) + ta6
    //     shard packing at a 2000-token budget
    // CONSERVATION is structural: input = Σ gate rows + Σ shard rows
    // (docs and tokens) — PipelineSpec asserts it, and the 'input'
    // row makes it oracle-visible. Scale shape: gates 1-6 are
    // independent per-doc flags (one corpus scan per stage family —
    // PlanSpec pins the scan count), the near-dup side reads the
    // maintained signature index, and the only ordered structures are
    // the two sqrt-bucketed prefix sums (PPS cumsum + shard packing).
    "cp5_pretraining_release" -> ((s, dir) => {
      // The attributed per-doc gate verdicts (att) are deterministic
      // given the corpus snapshot, so they are a maintained table: every
      // consumer below (ledger, survivors, conservation row) and every
      // later invocation reads one columnar scan.
      val att = Dedup.materializedTable(s, dir, "cp5att",
        Seq("documents", "embeddings"))(cp5Attribution(s, dir))
      cp5ReleaseOf(s, dir, att)
    }),

    // CP6: the release pipeline with a CONTENT-REWRITING stage — cp5
    // gates whole documents but never edits one; real curation also
    // CUTS duplicated substrings (template/license boilerplate repeated
    // across otherwise-distinct pages) from the documents it ships.
    // Corpus = cp5's two-crawl mix + a planted 24-token boilerplate
    // passage (cp6Corpus). After cp5's six doc-level gates, the
    // substring stage (Lee et al. ExactSubstr at the cp6W=15 threshold,
    // ll15's operating point — see cp6W's note on why not 50 here)
    // computes each survivor's duplicated-window cut list; the removed
    // tokens then FLOW DOWNSTREAM: PPS sampling, splits and shard
    // packing all run on post-cut token counts, and the conservation
    // ledger gains the cut:substr attribution row. Scale shape: cp5's
    // stages + ll15's (one window pass over survivor text, one
    // map-side-combined hash count, one join back, per-doc interval
    // merge — linear in survivor tokens, never pairwise).
    "cp6_release_substr" -> ((s, dir) => {
      val att = Dedup.materializedTable(s, dir, "cp6att",
        Seq("documents", "embeddings"))(
        cp6AttributionOf(s, dir, cp6Corpus(s, dir), cp5TwinVecs(s, dir),
          winTable = Some(cp6WinTable(s, dir))))
      cp5ReleaseOf(s, dir, att, withCut = true)
    }),

    // Corpus SNAPSHOT DIFF — the planning step of an incremental
    // refresh: two crawl snapshots of the same keyed corpus are
    // diffed into the delta manifest (added / removed / changed doc
    // ids) that downstream incremental operators consume — the
    // added∪changed half is exactly what ll14 probes against the
    // maintained band index, and removed feeds retirement (L9/rg1's
    // ledgered rewrite). Deliberately emits ONLY the delta: at 100 TB
    // the unchanged corpus must never leave the join. Plan shape: each
    // side collapses to (doc_id, content-hash) in its scan — the text
    // column never shuffles — then one doc_id-keyed full outer join;
    // with both snapshots stored doc_id-bucketed (the Catalog's
    // layout) the join is co-located and shuffle-free. The snapshots
    // here are deterministic slices of `documents`: ids % 11 == 7
    // exist only in the new crawl, % 13 == 5 only in the old, and
    // % 7 == 2 were re-crawled with different content.
    // EMBEDDING snapshot drift — cd1's planner for the vector side:
    // when a corpus is re-embedded (model upgrade / re-crawl), the
    // index owner needs to know HOW FAR vectors moved per dimension
    // before deciding whether IVF cells / PQ codebooks must retrain.
    // Statistic = per-dimension mean |delta| between the paired old
    // and new vector of each doc (means shift near zero on centered
    // embeddings, so the PAIRED delta is the honest monitor). Here the
    // new snapshot is the ll8 perturbation rule (vec_id % 7 == 2
    // re-embeds with the first 32 dims scaled 1.1x), so dims 1-32
    // drift and dims 33-64 pin to zero. Exact integer math on
    // round(x*1000) quantized values. Scale shape: ONE corpus scan
    // (both snapshots derive per-row), a 64-dim explode that
    // map-side-collapses to 64 partial rows per partition, and a
    // 64-row aggregate — corpus-linear, shuffle is 64 rows.
    "cd2_embedding_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("qo",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .withColumn("qn",
          expr("transform(embedding, (x, i) -> CAST(round(CAST(" +
            "IF(vec_id % 7 = 2 AND i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x)" +
            " AS DOUBLE) * 1000) AS BIGINT))"))
      e.select(explode(expr(
          "transform(sequence(1, 64), i -> named_struct(" +
            "'dim', CAST(i AS BIGINT), 'd', abs(qn[i-1] - qo[i-1])))")).as("x"))
        .select(col("x.dim").as("dim"), col("x.d").as("d"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") =!= 0L, 1L).otherwise(0L)).as("n_moved"),
          sum(col("d")).as("sum_abs_delta"))
        .select(col("dim"), col("n"), col("n_moved"), col("sum_abs_delta"),
          expr("CAST(sum_abs_delta DIV n AS BIGINT)").as("mean_abs_delta"),
          (col("n_moved") > 0L).as("drifted"))
    }),

    "cd1_snapshot_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 7)
        .select(col("doc_id"), xxhash64(col("text")).as("h_old"))
      val neu = d.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"), xxhash64(
          when(col("doc_id") % 7 === 2, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("h_new"))
      old.join(neu, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed"))
        .filter(col("status").isNotNull)
        .select(col("doc_id"), col("status"))
    }),

    // NUMERIC-DISTRIBUTION DRIFT between the first and second time
    // half of the event stream — the train/serve shift monitor (PSI
    // family) over `value`. Everything is exact integer arithmetic:
    // probabilities are add-1-smoothed parts-per-million via integer
    // DIV, and the log-ratio uses the DSIR quarter-bit floor-log2
    // (TextAnalysis.q4Duck's normalize-then-4th-power form), with
    // log(products) expanded to sums of q4 terms so no intermediate
    // exceeds int64 at any corpus size. The ppm scaling caps the
    // per-bin count envelope at ~9e12 rows (int64); past that the
    // same metric drops to per-mille — it is scale-free. Plan shape:
    // one events scan, a (bin, half)-keyed aggregate (bounded by the
    // value range / 10), and two 1-row broadcast scalar joins (time
    // midpoint, totals) — no corpus-wide window, no driver loop.
    "cd3_value_drift" -> ((s, dir) => {
      def q4(x: String): String = {
        val sh = s"GREATEST(0, length(bin($x)) - 15)"
        val m = s"SHIFTRIGHT($x, CAST($sh AS INT))"
        s"(length(bin($m * $m * $m * $m)) - 1 + 4 * ($sh))"
      }
      val ev = Tables.events(s, dir)
        .select(unix_micros(col("ts")).as("ts_us"), col("value"))
      val rng = ev.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
      val bins = ev.crossJoin(broadcast(rng))
        .withColumn("half", when(col("ts_us") * 2 <= col("lo") + col("hi"), "a").otherwise("b"))
        .withColumn("bin", expr("CAST(floor(value / 10.0D) AS BIGINT)"))
        .groupBy(col("bin"))
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("ca"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("cb"))
      val tot = bins.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("nbins"))
      bins.crossJoin(broadcast(tot))
        .withColumn("pa_ppm", expr("(ca + 1) * 1000000L DIV (na + nbins)"))
        .withColumn("pb_ppm", expr("(cb + 1) * 1000000L DIV (nb + nbins)"))
        .withColumn("delta_qb", expr(
          s"CAST((${q4("(ca + 1)")} - ${q4("(cb + 1)")}) + (${q4("(nb + nbins)")} - ${q4("(na + nbins)")}) AS BIGINT)"))
        .withColumn("contrib_q", (col("pa_ppm") - col("pb_ppm")) * col("delta_qb"))
        .select(col("bin"), col("ca"), col("cb"), col("pa_ppm"), col("pb_ppm"),
          col("delta_qb"), col("contrib_q"),
          (col("contrib_q") >= 1000L).as("drifted"))
    })
  )

  val oracles: Map[String, String] = Map(
    // same FLOAT-round-trip perturbation as ll8's oracle, same
    // sign-safe truncating integer division as ll11's
    "cd2_embedding_drift" ->
      """WITH q AS (SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qo,
             list_transform(range(1, 65),
               i -> CAST(round(CAST(CASE WHEN vec_id % 7 = 2 AND i <= 32
                      THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                      ELSE embedding[i] END AS DOUBLE) * 1000) AS BIGINT)) AS qn
           FROM embeddings),
         d AS (SELECT dim.i AS dim, abs(qn[dim.i] - qo[dim.i]) AS d
               FROM q, (SELECT unnest(range(1, 65)) AS i) dim)
         SELECT dim, COUNT(*) AS n,
           CAST(SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(SUM(d) AS BIGINT) AS sum_abs_delta,
           CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_abs_delta,
           SUM(CASE WHEN d <> 0 THEN 1 ELSE 0 END) > 0 AS drifted
         FROM d GROUP BY dim""",
    "cp1_corpus_intake" -> {
      import TextAnalysis.{stopwords, inList}
      val scoreSql = stopwords.map { case (l, ws) =>
        s"CAST(len(list_filter(ws, w -> w IN ${inList(ws)})) AS BIGINT) AS s_$l"
      }.mkString(", ")
      val bestSql = "greatest(" + stopwords.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
      val predSql = "CASE " + stopwords.map { case (l, _) =>
        s"WHEN $bestSql > 0 AND s_$l = $bestSql THEN '$l'"
      }.mkString(" ") + " ELSE 'unknown' END"
      s"""WITH dd AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents)
            WHERE rn = 1),
          t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM dd),
          langed AS (SELECT doc_id, text, ws, $scoreSql FROM t),
          staged AS (
            SELECT doc_id, $predSql AS predicted,
              CAST(len(ws) AS BIGINT) AS n_words,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(list_filter(ws, w -> w IN ${inList(stopwords.head._2)})) AS BIGINT)
                AS stop_hits
            FROM langed),
          verdicts AS (
            SELECT doc_id, predicted, n_words,
              CASE WHEN n_words BETWEEN 20 AND 100
                    AND (n_chars - (n_words - 1)) / n_words < 8
                    AND stop_hits / n_words >= 0.02
                   THEN 'keep' ELSE 'flag' END AS verdict
            FROM staged)
          SELECT predicted, verdict, COUNT(*) AS n_docs,
            CAST(SUM(n_words) AS BIGINT) AS n_tokens,
            MIN(doc_id) AS first_doc
          FROM verdicts GROUP BY predicted, verdict"""
    },
    // every stage's SQL mirrors the library stage it reuses (cp1's
    // dedup CTE, ta2's verdict, ll10's shingle probe, ta15's split
    // hash, ta6's startp DIV budget); the oracle's single per-split
    // window never needs to scale
    "cp2_training_set" -> {
      import TextAnalysis.{stopwords, inList}
      s"""WITH dd AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents)
            WHERE rn = 1),
          q AS (
            SELECT doc_id, text, n_words FROM (
              SELECT doc_id, text,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(list_filter(string_split(text, ' '),
                  w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
              FROM dd)
            WHERE n_words BETWEEN 20 AND 100
              AND (n_chars - (n_words - 1)) / n_words < 8
              AND stop_hits / n_words >= 0.02),
          benchsh AS (
            SELECT DISTINCT sh FROM (
              SELECT unnest(list_distinct(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
              FROM (SELECT string_split(text, ' ') AS w FROM documents
                    WHERE doc_id % 10 = 0)
              WHERE len(w) >= 3)),
          qsh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM q)
            WHERE len(w) >= 3),
          cont AS (SELECT doc_id FROM qsh JOIN benchsh USING (sh)
                   GROUP BY doc_id HAVING COUNT(DISTINCT sh) >= 5),
          sp AS (
            SELECT doc_id, n_words AS nt,
              CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                     % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                     % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM q
            WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)),
          pre AS (SELECT split, nt,
                    CAST(SUM(nt) OVER (PARTITION BY split ORDER BY doc_id) AS BIGINT)
                      AS endp
                  FROM sp)
          SELECT split, CAST((endp - nt) // 2000 AS BIGINT) AS shard_id,
            COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
          FROM pre GROUP BY 1, 2"""
    },

    // every stage replayed from the library's own proven oracle
    // blocks: cp1's dedup window + ta2 rule, ll2's band/verify chain
    // (over the exact-survivor set — signatures are subset-stable),
    // ll8's hyperplane buckets with the crawl-aligned +1e8 twins,
    // ll31's 13-gram rule, ta26's KN surprisal, ta23's unit-boundary
    // sampling, cp2's split hash + shard packing
    "cp5_pretraining_release" -> cp5ReleaseOracle(
      "corpus AS (" + cp5TwinCorpusSql + ")",
      cp5ReleaseTail),

    // cp6: the SAME gate replay over the boilerplate-planted corpus,
    // then ll15's substring CTE chain (60-bit window hashes, >= 2
    // occurrence rule, gaps-and-islands merge) restricted to the
    // survivor set, with the release tail running on POST-CUT token
    // counts and the cut:substr attribution row appended
    "cp6_release_substr" -> cp5ReleaseOracle(
      s"""corpus0 AS ($cp5TwinCorpusSql),
          corpus AS (SELECT doc_id,
              CASE WHEN doc_id % 5 = 1 AND len(string_split(text, ' ')) <= 76
                   THEN text || ' $cp6Passage' ELSE text END AS text
            FROM corpus0)""",
      cp6ReleaseTail),


    // text compared directly where the engine compares hashes — the
    // decision (equal vs not) is identical modulo hash collisions
    "cd1_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 7),
          neu AS (SELECT doc_id,
                    CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END AS text
                  FROM documents WHERE doc_id % 13 <> 5)
          SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
            CASE WHEN o.doc_id IS NULL THEN 'added'
                 WHEN n.doc_id IS NULL THEN 'removed'
                 ELSE 'changed' END AS status
          FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
          WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text <> n.text""",

    // quarter-bit floor-log2 replayed with TextAnalysis.q4Duck's
    // normalize-then-4th-power form; all arithmetic integer
    "cd3_value_drift" -> {
      def q4(x: String): String = {
        val s = s"GREATEST(0, length(bin($x)) - 15)"
        val m = s"(($x) >> ($s))"
        s"(length(bin($m * $m * $m * $m)) - 1 + 4 * ($s))"
      }
      s"""WITH ev AS (SELECT epoch_us(ts) AS ts_us, value FROM events),
          rng AS (SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM ev),
          h AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
                  CASE WHEN ts_us * 2 <= lo + hi THEN 'a' ELSE 'b' END AS half
                FROM ev CROSS JOIN rng),
          bins AS (SELECT bin,
                     CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                     CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                   FROM h GROUP BY bin),
          tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                    COUNT(*) AS nbins FROM bins),
          j AS (SELECT bin, ca, cb,
                  (ca + 1) * 1000000 // (na + nbins) AS pa_ppm,
                  (cb + 1) * 1000000 // (nb + nbins) AS pb_ppm,
                  CAST((${q4("(ca + 1)")} - ${q4("(cb + 1)")})
                     + (${q4("(nb + nbins)")} - ${q4("(na + nbins)")}) AS BIGINT) AS delta_qb
                FROM bins CROSS JOIN tot)
          SELECT bin, ca, cb, pa_ppm, pb_ppm, delta_qb,
            (pa_ppm - pb_ppm) * delta_qb AS contrib_q,
            (pa_ppm - pb_ppm) * delta_qb >= 1000 AS drifted
          FROM j"""
    }
  )

  /** cp5's two-crawl corpus (the body of its oracle's `corpus` CTE),
    * shared with cp6's boilerplate-planted variant. */
  private def cp5TwinCorpusSql: String =
    """SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000000,
              CASE WHEN doc_id % 17 = 0 THEN text
                   WHEN doc_id % 19 = 3
                     THEN array_to_string(list_reverse(string_split(text, ' ')), ' ')
                   ELSE substr(text, strpos(text, ' ') + 1) END
            FROM documents"""

  /** The shared cp5/cp6 release-oracle frame: `corpusCtes` supplies
    * the corpus CTE(s) (cp5: the twin mix; cp6: the twin mix + the
    * planted boilerplate), the qual -> att chain replays gates 1-6
    * from the library's own proven oracle blocks (cp1's dedup window
    * + ta2 rule, ll2's band/verify chain over the exact-survivor set,
    * ll8's hyperplane buckets with the crawl-aligned +1e8 twins,
    * ll31's 13-gram rule, ta26's KN surprisal), and `tail` finishes
    * the release design (ta23's unit-boundary sampling, cp2's split
    * hash + shard packing) plus the ledger rows.
    */
  private def cp5ReleaseOracle(corpusCtes: String, tail: String): String = {
      import TextAnalysis.{stopwords, inList, log2ExpCase, log2FracCase}
      val bandSql = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(" +
          (0 until 4).map(r => s"s${4 * b + r}").mkString(" || ',' || ") +
          ") AS bkey FROM sig").mkString("\n UNION ALL ")
      val matchSql = (0 until Dedup.nSig)
        .map(i => s"(CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END)").mkString(" + ")
      val bitsSql = (0 until 8).map(j =>
        s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val dotsSql = (0 until 8).map { j =>
        s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * hv$j[i])) AS d$j"
      }.mkString(", ")
      val hvDefs = (0 until 8).map { j =>
        s"[${Similarity.hyperplane(j, 64).mkString(", ")}]::DOUBLE[] AS hv$j"
      }.mkString(", ")
      val gram = "unnest(list_distinct(list_transform(range(1, len(w) - 11), " +
        "i -> CAST(CAST('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), " +
        "1, 15) AS UBIGINT) AS BIGINT)))) AS g"
    s"""WITH $corpusCtes,
          qual AS (SELECT doc_id, text,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ${inList(stopwords.head._2)})) AS BIGINT) AS stop_hits
            FROM corpus),
          ex AS (SELECT doc_id, text, nt, n_chars, stop_hits,
              ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
                AS exact_dup
            FROM qual),
          dd2 AS (SELECT doc_id, text FROM ex WHERE NOT exact_dup),
          sh AS (${Dedup.shinglesSqlFrom("dd2")}),
          sig AS (SELECT doc_id, ${Dedup.sigSelect("s")} FROM sh GROUP BY doc_id),
          band AS ($bandSql),
          cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                   FROM band x JOIN band y
                     ON x.band = y.band AND x.bkey = y.bkey
                       AND x.doc_id < y.doc_id),
          near AS (SELECT DISTINCT doc_b AS doc_id
                   FROM cand JOIN sig a ON doc_a = a.doc_id
                             JOIN sig b ON doc_b = b.doc_id
                   WHERE ($matchSql) >= 8),
          h AS (SELECT $hvDefs),
          ecorpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          ed AS (SELECT vec_id, embedding, ${Similarity.normSql} AS nrm, $dotsSql
                 FROM ecorpus, h),
          eb AS (SELECT vec_id, embedding, nrm,
                   CAST($bitsSql AS BIGINT) AS bucket FROM ed),
          sem AS (SELECT DISTINCT y.vec_id AS doc_id
                  FROM eb x JOIN eb y
                    ON x.bucket = y.bucket AND x.vec_id < y.vec_id
                  WHERE list_sum(list_transform(range(1, 65),
                          i -> CAST(x.embedding[i] AS DOUBLE)
                             * CAST(y.embedding[i] AS DOUBLE)))
                        / sqrt(x.nrm * y.nrm) >= 0.8),
          tg AS (SELECT doc_id, $gram
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
                 WHERE len(w) >= 13),
          bench AS (SELECT DISTINCT g FROM (
                      SELECT doc_id, $gram
                      FROM (SELECT doc_id, string_split(text, ' ') AS w
                            FROM documents WHERE doc_id % 41 = 0)
                      WHERE len(w) >= 13)),
          dec AS (SELECT tg.doc_id
                  FROM tg LEFT JOIN bench b USING (g)
                  GROUP BY 1
                  HAVING SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) * 5
                         >= COUNT(*) * 4),
          bg AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
                 FROM (SELECT string_split(text, ' ') AS ws FROM documents
                       WHERE len(string_split(text, ' ')) >= 2),
                      unnest(range(len(ws) - 1)) AS t(i)),
          c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
          ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1f
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
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
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
          ppl AS (SELECT doc_id FROM sc GROUP BY 1
                  HAVING CAST(SUM(s_mb) AS BIGINT) // COUNT(*) > 4800),
          att AS (SELECT e.doc_id, e.nt,
              CASE WHEN e.exact_dup THEN 'exact_dedup'
                   WHEN e.doc_id IN (SELECT doc_id FROM near) THEN 'near_dedup'
                   WHEN e.doc_id IN (SELECT doc_id FROM sem) THEN 'semantic_dedup'
                   WHEN e.doc_id % 41 = 0 AND e.doc_id < 100000000
                     THEN 'decontamination'
                   WHEN e.doc_id IN (SELECT doc_id FROM dec) THEN 'decontamination'
                   WHEN NOT (e.nt BETWEEN 20 AND 100
                             AND (e.n_chars - (e.nt - 1)) / e.nt < 8
                             AND e.stop_hits / e.nt >= 0.02) THEN 'quality'
                   WHEN e.doc_id IN (SELECT doc_id FROM ppl) THEN 'perplexity'
              END AS gate
            FROM ex e),
$tail"""
  }

  /** cp5's release tail: PPS + splits + shards over the survivors'
    * ORIGINAL token counts. */
  private def cp5ReleaseTail: String =
    """          sv AS (SELECT doc_id, nt FROM att WHERE gate IS NULL),
          tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS tot FROM sv),
          cums AS (SELECT doc_id, nt,
              CAST(SUM(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM sv),
          pps AS (SELECT doc_id, nt,
              cum // greatest(1, tot // 100)
                - (cum - nt) // greatest(1, tot // 100) AS n_units
            FROM cums CROSS JOIN tot),
          sp AS (SELECT doc_id, nt,
              CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM pps WHERE n_units > 0),
          pre AS (SELECT split, nt,
              CAST(SUM(nt) OVER (PARTITION BY split ORDER BY doc_id) AS BIGINT)
                AS endp
            FROM sp)
          SELECT 'gate:' || gate AS stage, COUNT(*) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens
          FROM att WHERE gate IS NOT NULL GROUP BY 1
          UNION ALL
          SELECT 'gate:pps_sampled_out', COUNT(*), CAST(SUM(nt) AS BIGINT)
          FROM pps WHERE n_units = 0 GROUP BY 1
          UNION ALL
          SELECT 'shard:' || split || ':' || CAST((endp - nt) // 2000 AS BIGINT),
            COUNT(*), CAST(SUM(nt) AS BIGINT)
          FROM pre GROUP BY 1
          UNION ALL
          SELECT 'input', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM att"""

  /** cp6's release tail: ll15's substring CTE chain (60-bit window
    * hashes, >= 2 occurrences corpus-wide, gaps-and-islands merge)
    * over the survivor set, then the same PPS/split/shard design on
    * POST-CUT token counts, plus the cut:substr attribution row.
    * Doc conservation excludes cut:substr (a cut doc still ships);
    * token conservation includes it.
    */
  private def cp6ReleaseTail: String =
    s"""sv AS (SELECT doc_id, nt FROM att WHERE gate IS NULL),
          svt AS (SELECT c.doc_id, string_split(c.text, ' ') AS ws
                  FROM corpus c JOIN sv USING (doc_id)),
          win2 AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                   CAST(CAST('0x' || substr(md5(array_to_string(ws[i:i + ${cp6W - 1}], ' ')),
                     1, 15) AS UBIGINT) AS BIGINT) AS whash
            FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - ${cp6W - 2})) AS i
                  FROM svt WHERE len(ws) >= $cp6W)),
          freq2 AS (SELECT whash, COUNT(*) AS cnt FROM win2 GROUP BY 1),
          dup2 AS (SELECT doc_id, pos, pos + ${cp6W - 1} AS fin
                   FROM win2 JOIN freq2 USING (whash) WHERE cnt >= 2),
          m2 AS (SELECT doc_id, pos, fin,
                        MAX(fin) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
                 FROM dup2),
          b2 AS (SELECT *, CASE WHEN prev_max IS NULL OR pos > prev_max + 1 THEN 1 ELSE 0 END AS brk
                 FROM m2),
          g2 AS (SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS grp
                 FROM b2),
          spans2 AS (SELECT doc_id, MIN(pos) AS span_start, MAX(fin) AS span_end
                     FROM g2 GROUP BY doc_id, grp),
          cutagg AS (SELECT doc_id, CAST(SUM(span_end - span_start + 1) AS BIGINT) AS cut
                     FROM spans2 GROUP BY 1),
          sv2 AS (SELECT sv.doc_id, sv.nt - COALESCE(cut, 0) AS nt,
                         COALESCE(cut, 0) AS cut
                  FROM sv LEFT JOIN cutagg USING (doc_id)),
          tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS tot FROM sv2),
          cums AS (SELECT doc_id, nt,
              CAST(SUM(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM sv2),
          pps AS (SELECT doc_id, nt,
              cum // greatest(1, tot // 100)
                - (cum - nt) // greatest(1, tot // 100) AS n_units
            FROM cums CROSS JOIN tot),
          sp AS (SELECT doc_id, nt,
              CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 80 THEN 'train'
                   WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM pps WHERE n_units > 0),
          pre AS (SELECT split, nt,
              CAST(SUM(nt) OVER (PARTITION BY split ORDER BY doc_id) AS BIGINT)
                AS endp
            FROM sp)
          SELECT 'gate:' || gate AS stage, COUNT(*) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens
          FROM att WHERE gate IS NOT NULL GROUP BY 1
          UNION ALL
          SELECT 'cut:substr', COUNT(*), CAST(COALESCE(SUM(cut), 0) AS BIGINT)
          FROM sv2 WHERE cut > 0
          UNION ALL
          SELECT 'gate:pps_sampled_out', COUNT(*), CAST(SUM(nt) AS BIGINT)
          FROM pps WHERE n_units = 0 GROUP BY 1
          UNION ALL
          SELECT 'shard:' || split || ':' || CAST((endp - nt) // 2000 AS BIGINT),
            COUNT(*), CAST(SUM(nt) AS BIGINT)
          FROM pre GROUP BY 1
          UNION ALL
          SELECT 'input', COUNT(*), CAST(SUM(nt) AS BIGINT) FROM att"""
}
