package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors)
  * — the ANN half of the LLM-pipeline extensions.
  *
  * Three strategies, from exact baseline to scale path:
  *   - ll3 brute-force top-k: broadcast the (small) query set against
  *     the corpus scan; per-corpus-row dot products fuse into one
  *     codegen'd map stage; top-k per query via window row_number.
  *     At 100 TB the corpus side streams — this is the exact-recall
  *     baseline, linear in corpus size.
  *   - ll4 IVF: identical scoring, but the corpus scan is restricted to
  *     the query's cell (here the pre-assigned `label` column stands in
  *     for the coarse quantizer's cell id). On a partitioned-by-cell
  *     layout this is partition pruning: only 1/k of the corpus is read.
  *   - ll7 random-hyperplane LSH: 8 deterministic md5-derived {-1,+1}
  *     hyperplanes hash each vector to an 8-bit bucket; search only
  *     compares within-bucket candidates (expected corpus/256 per
  *     probe). Bucketing is a narrow map; the only shuffle is the
  *     groupBy bucket.
  *
  * All arithmetic is float->double elementwise products summed in
  * element order, mirrored exactly by the oracle's list_sum over
  * list_transform, so similarity values are bit-comparable.
  */
object Similarity {

  /** Sum of elementwise double products, sequential fold in element
    * order (deterministic, bit-identical to the oracle's list_sum).
    * Round 12: the `aggregate(zip_with(...))` HOF form moved to the
    * codegen'd native kernel `dot_native` (functions/VectorExprs) —
    * HOFs are CodegenFallback, and this product is the inner loop of
    * every ANN/semantic-dedup query; VectorExprsSpec pins the two
    * forms bit-for-bit so the DuckDB list_sum oracle contract is
    * unchanged. Registration is guaranteed by Tables.load (the
    * query-path choke point) / GraftExtensions (production).
    */
  private[operators] def dotExpr(a: String, b: String) =
    expr(s"dot_native($a, $b)")

  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr("dot_native(embedding, embedding)"))

  /** Deterministic {-1,+1} hyperplane component: +1 iff the first hex
    * digit of md5("h<j>:<i>") is >= 8. Same formula in the oracle SQL.
    */
  private[operators] def hyperplane(j: Int, dim: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { i =>
      val h = md.digest(s"h$j:$i".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) >= 8) 1 else -1
    }.toArray
  }

  /** Shared top-5 cosine search: brute-force broadcast-query baseline
    * (sameCell=false, the ll3 oracle anchor) or IVF cell-pruned
    * (sameCell=true, the scale path).
    */
  private[operators] def annTopK(s: org.apache.spark.sql.SparkSession, dir: String,
                      sameCell: Boolean): DataFrame = {
    val e = withNorm(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label")))
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), col("label").as("q_label")).filter(col("query_id") < 10)
    val cond =
      if (sameCell) col("label") === col("q_label") && col("vec_id") =!= col("query_id")
      else col("vec_id") =!= col("query_id")
    val scored = e.join(broadcast(q), cond)
      .withColumn("dot", dotExpr("q_emb", "embedding"))
      .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
    topK(scored, 5)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Deterministic Lloyd's k-means over integer-quantized vectors —
    * the IVF coarse-quantizer TRAINER. Faiss-style for real: training
    * runs on a BOUNDED DETERMINISTIC SAMPLE (vectors whose md5(vec_id)
    * residue mod `sampleStep` is 0 — ~1024 vectors at any corpus size
    * and any id LAYOUT when the caller derives the step from the
    * memoized row-count stat; id-stepping undersampled sparse id
    * spaces), collected to the
    * driver as model-config-sized state (the mmdb/centroid precedent)
    * where Lloyd's iterates locally in exact integer arithmetic; the
    * corpus then gets exactly ONE distributed assignment pass. At
    * 100 TB the training cost is corpus-independent and the embeddings
    * table is scanned once — not (iters+1) times as a full-corpus
    * trainer would (and as this operator did before round 10).
    *
    * Vectors quantize to round(x*1000) longs, so every distance,
    * per-cell sum and centroid update is exact integer arithmetic and
    * the DuckDB oracle replays training bit-for-bit. Init = the k
    * lowest sampled vec_ids' vectors; assignment ties break to the
    * lowest cell id; centroid update truncates sum/count toward zero;
    * empty cells keep their centroid.
    */
  /** The bounded deterministic training sample: vectors whose
    * md5(vec_id) residue mod `sampleStep` is 0, in vec_id order —
    * hash-mod sampling, NOT id-stepping: `vec_id % step` silently
    * undersamples sparse id spaces (sharded/offset ids — the K-fold
    * scale replica caught this with 1 sample from 8x the data); the
    * md5 residue is uniform regardless of id layout, so ~n/step
    * vectors are drawn from any corpus with the same determinism.
    * Shared by every sampled trainer (IVF cells, PQ codebooks,
    * IVF-PQ residuals).
    */
  private[operators] def sampleQuantized(qe: DataFrame,
                                         sampleStep: Long): Array[Array[Long]] =
    qe.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % sampleStep === 0)
      .orderBy(col("vec_id"))
      .select(col("q")).collect().map(_.getSeq[Long](0).toArray)

  /** The sampled deterministic Lloyd loop itself — [[trainCells]]'
    * driver-side trainer, exposed so composed indexes (IVF-PQ) can
    * reuse the trained CENTROIDS for residual coding. Same arithmetic
    * contract as everywhere in this file: init = the k lowest sampled
    * ids' vectors, strict-< tie-break, truncating centroid division,
    * empty cells keep their centroid.
    */
  private[operators] def trainCellCentroids(qe: DataFrame, k: Int, iters: Int,
                                            dim: Int, sampleStep: Long): Array[Array[Long]] = {
    val sample = sampleQuantized(qe, sampleStep)
    require(sample.length >= k,
      s"k-means needs >= $k sampled vectors; found ${sample.length} " +
        s"(sampleStep=$sampleStep)")
    var cents: Array[Array[Long]] = sample.take(k)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k, dim)(0L)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Long.MaxValue
        var j = 0
        while (j < k) {
          var d = 0L; var i = 0
          while (i < dim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j } // strict < : ties keep lowest j
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0L) cents(j)
        else Array.tabulate(dim)(i => sums(j)(i) / counts(j)) // Long / truncates toward zero
      }
    }
    cents
  }

  private[operators] def trainCells(qe: DataFrame, k: Int, iters: Int, dim: Int,
                                    sampleStep: Long): DataFrame =
    assignCells(qe, trainCellCentroids(qe, k, iters, dim, sampleStep))
      .select(col("vec_id"), col("cell"))

  /** Assignment of quantized vectors to the nearest of `cents`
    * (literal-embedded centroids — model-sized, so the comparison is
    * one codegen'd map over the scan): returns (vec_id, q, cell,
    * dmin). Ties break to the lowest cell id (strict array_position
    * of the min), truncating/squaring in exact integer arithmetic —
    * the same contract as [[trainCells]]'s driver-side loop and the
    * kmAssignSql oracle replay.
    */
  private[graft] def assignCells(qe: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val k = cents.length
    val dists = cents.zipWithIndex.map { case (c, j) =>
      expr(s"sqdist_native(q, array(${c.mkString(",")}))").as(s"dist$j")
    }
    val distList = (0 until k).map(j => s"dist$j").mkString(",")
    qe.select(col("vec_id") +: col("q") +: dists: _*)
      .withColumn("cell",
        (expr(s"array_position(array($distList), array_min(array($distList)))") - 1).cast("long"))
      .withColumn("dmin", expr(s"array_min(array($distList))"))
      .select(col("vec_id"), col("q"), col("cell"), col("dmin"))
  }

  /** FULL-CORPUS distributed Lloyd refinement — the complement of
    * [[trainCells]]'s bounded-sample trainer, for when cluster
    * QUALITY is the product (SemDeDup-style semantic curation) rather
    * than a coarse ANN quantizer. This is MLlib KMeans' exact
    * distributed shape: each iteration is ONE corpus scan whose
    * assignment is a codegen'd map against literal centroids, feeding
    * ONE partial-aggregated (cell, dim)-keyed sum — the shuffle
    * carries at most tasks × k × dim rows and the driver collects
    * k × dim longs (model-sized, the ll4b/mmdb precedent), so
    * per-iteration cost is a linear scan at ANY corpus size and
    * driver/reducer state never grows with the corpus. All arithmetic
    * is the file's exact integer discipline (truncating division,
    * empty cells keep their centroid), so the DuckDB oracle replays
    * every iteration bit-for-bit via kmAssignSql/kmUpdateSql.
    */
  private[operators] def lloydRefine(qe: DataFrame, init: Array[Array[Long]],
                                     iters: Int, dim: Int): Array[Array[Long]] = {
    var cents = init
    val k = cents.length
    for (_ <- 1 to iters) {
      val agg = assignCells(qe, cents)
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect() // k × dim rows — model-sized at any corpus size
      val sums = Array.fill(k, dim)(0L)
      val counts = new Array[Long](k)
      agg.foreach { r =>
        val (cell, pos) = (r.getLong(0).toInt, r.getInt(1))
        sums(cell)(pos) = r.getLong(2)
        counts(cell) = r.getLong(3)
      }
      cents = Array.tabulate(k) { j =>
        if (counts(j) == 0L) cents(j)
        else Array.tabulate(dim)(i => sums(j)(i) / counts(j)) // Long / truncates toward zero
      }
    }
    cents
  }

  /** Streaming input row / state for [[miniBatchKmeansStream]]. */
  case class VecRow(vec_id: Long, q: Seq[Long])
  case class OnlineKmState(ver: Long, counts: Seq[Long], cents: Seq[Seq[Long]])

  /** MINI-BATCH k-means (Sculley, WWW 2010) as a streaming state
    * operator — the ONLINE third regime of the trainer family:
    * trainCells trains on a bounded sample (corpus-independent cost),
    * lloydRefine refines over the full corpus (one scan per
    * iteration), and THIS maintains centroids as embeddings ARRIVE,
    * no rescan ever. Per point: assign to the nearest current
    * centroid (lowest-cell ties), bump its count n, move the centroid
    * by the standard per-center learning rate 1/n:
    * c ← c + (x − c)/n, exact truncating integer division. The first
    * k points (vec_id order) seed the centroids with n = 1. State is
    * k×dim longs + k counts — model-sized forever — in ONE state-
    * store group: updates are inherently sequential (each assignment
    * depends on every prior move), the same reason faiss trains its
    * quantizer on one node; the corpus-scale work upstream is the
    * (already-aggregated) arrival feed itself. Rows fold in vec_id
    * order within a batch; StreamingSpec pins exact equality against
    * an independent driver-side reference on a split feed. Emits a
    * per-batch (version, cell, n, centroid-checksum) snapshot — the
    * latest version IS the live quantizer.
    */
  def miniBatchKmeansStream(vecs: org.apache.spark.sql.Dataset[VecRow],
                            k: Int, dim: Int)
    : org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import vecs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    vecs.groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, it: Iterator[VecRow], state: GroupState[OnlineKmState]) => {
          val st = state.getOption.getOrElse(OnlineKmState(0L, Seq.empty, Seq.empty))
          val counts = st.counts.toBuffer
          val cents = st.cents.map(_.toArray).toBuffer
          it.toSeq.sortBy(_.vec_id).foreach { p =>
            if (cents.length < k) { cents += p.q.toArray; counts += 1L }
            else {
              var best = 0; var bestD = Long.MaxValue
              var j = 0
              while (j < k) {
                var d = 0L; var i = 0
                while (i < dim) { val t = p.q(i) - cents(j)(i); d += t * t; i += 1 }
                if (d < bestD) { bestD = d; best = j } // strict < : ties keep lowest j
                j += 1
              }
              counts(best) += 1L
              val c = cents(best); val n = counts(best)
              var i = 0
              while (i < dim) { c(i) += (p.q(i) - c(i)) / n; i += 1 }
            }
          }
          val next = OnlineKmState(st.ver + 1L, counts.toSeq, cents.map(_.toSeq).toSeq)
          state.update(next)
          cents.indices.iterator.map(j =>
            (next.ver, j.toLong, counts(j), cents(j).sum))
        })
  }

  /** Per-subspace deterministic Lloyd's k-means — the PRODUCT
    * QUANTIZATION trainer (Jegou et al., TPAMI 2011). Same sampling and
    * arithmetic discipline as [[trainCells]] (bounded driver-side
    * sample, exact integer math, init = the k lowest sampled ids'
    * subvectors, strict-< tie-break, truncating centroid division,
    * empty cells keep their centroid), but each of the m disjoint
    * dim-slices trains its own k-centroid codebook. Returns
    * codebooks(s)(j) = centroid j of subspace s (length subDim).
    */
  private[operators] def trainPqCodebooks(sample: Array[Array[Long]], m: Int,
                                          subDim: Int, k: Int, iters: Int): Array[Array[Array[Long]]] = {
    require(sample.length >= k, s"PQ training needs >= $k sampled vectors; found ${sample.length}")
    Array.tabulate(m) { s =>
      val sub = sample.map(v => v.slice(s * subDim, (s + 1) * subDim))
      var cents: Array[Array[Long]] = sub.take(k).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(k, subDim)(0L)
        val counts = new Array[Long](k)
        sub.foreach { v =>
          var best = 0; var bestD = Long.MaxValue
          var j = 0
          while (j < k) {
            var d = 0L; var i = 0
            while (i < subDim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = j } // strict < : ties keep lowest j
            j += 1
          }
          counts(best) += 1
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k) { j =>
          if (counts(j) == 0L) cents(j)
          else Array.tabulate(subDim)(i => sums(j)(i) / counts(j))
        }
      }
      cents
    }
  }

  /** The trained IVF-PQ model: coarse centroids + per-subspace
    * residual codebooks — ~10 KB of driver state at any corpus size.
    */
  private[graft] final case class IvfPqModel(cents: Array[Array[Long]],
                                             cb: Array[Array[Array[Long]]]) {
    val kc: Int = cents.length
    val m: Int = cb.length
    val kpq: Int = cb(0).length
    val dim: Int = cents(0).length
    val sd: Int = dim / m
    private[operators] def centArrays: String =
      cents.map(c => s"array(${c.mkString(",")})").mkString(",")
  }

  /** Train the composed IVF-PQ model (ll34's trainer, shared with the
    * streaming index): 8 coarse cells by the bounded-sample Lloyd
    * loop, then 8x16 residual codebooks on the SAME sample's coarse
    * residuals — all driver-side, corpus-independent cost.
    */
  private[graft] def trainIvfPq(qe: DataFrame, n: Long,
                                kc: Int = 8, m: Int = 8, kpq: Int = 16,
                                dim: Int = 64): IvfPqModel = {
    val step = math.max(1L, (n + 1023L) / 1024L) // ceil(n/1024): ~1024 samples
    val cents = trainCellCentroids(qe, kc, 2, dim, step)
    // residual codebooks from the SAME sample, coarse-assigned and
    // centered driver-side (sample and model are both bounded)
    val resSample = sampleQuantized(qe, step).map { v =>
      var best = 0; var bestD = Long.MaxValue
      var j = 0
      while (j < kc) {
        var d = 0L; var i = 0
        while (i < dim) { val t = v(i) - cents(j)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = j } // strict < : ties keep lowest j
        j += 1
      }
      Array.tabulate(dim)(i => v(i) - cents(best)(i))
    }
    IvfPqModel(cents, trainPqCodebooks(resSample, m, dim / m, kpq, 1))
  }

  /** Encode quantized vectors against a trained model: coarse cell +
    * residual + one nibble code per subspace — (vec_id, q, cell,
    * code0..code{m-1}), the index's stored form (codes + cell are
    * ~9 bytes/vector vs 512 for the raw floats). One codegen'd pass.
    */
  private[graft] def ivfPqEncode(qe: DataFrame, md: IvfPqModel): DataFrame = {
    val withRes = assignCells(qe, md.cents)
      .withColumn("rq", expr(
        s"zip_with(q, array(${md.centArrays})[CAST(cell AS INT)], (x, c) -> x - c)"))
    // hoist each subspace's residual slice into ONE column the kpq
    // distance aggregates reference, instead of re-inlining the slice
    // per (subspace, code) — same integer math, m·(kpq−1) fewer slice
    // subtrees in the plan (the Catalyst work on this expression tree
    // was measurable: ev16's construct+plan phases, guide §7.3)
    val withSlices = (0 until md.m).foldLeft(withRes) { (df, s2) =>
      df.withColumn(s"rq$s2", expr(s"slice(rq, ${s2 * md.sd + 1}, ${md.sd})"))
    }
    val dists = for (s2 <- 0 until md.m; j <- 0 until md.kpq) yield
      expr(s"aggregate(zip_with(rq$s2, " +
        s"array(${md.cb(s2)(j).mkString(",")}), (x, y) -> (x - y) * (x - y)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as(s"d${s2}_$j")
    val wd = withSlices.select(col("vec_id") +: col("q") +: col("cell") +: dists: _*)
    val codes = (0 until md.m).map { s2 =>
      val dl = (0 until md.kpq).map(j => s"d${s2}_$j").mkString(",")
      (expr(s"array_position(array($dl), array_min(array($dl)))") - 1)
        .cast("int").as(s"code$s2")
    }
    wd.select(col("vec_id") +: col("q") +: col("cell") +: codes: _*)
  }

  /** Reconstruct coded rows for the ADC scan: dq = cell centroid slice
    * + decoded residual per subspace, with its integer norm.
    */
  private[graft] def ivfPqReconstruct(coded: DataFrame, md: IvfPqModel): DataFrame = {
    // hoist the cell-centroid lookup into ONE column: the per-subspace
    // form re-embedded the FULL kc x dim centroid literal array m times
    // (the single largest term in ev16's 245 KB formatted plan — the
    // cost was Catalyst analysis/optimization time, guide §7.3), and
    // element_at over a literal array is not CollapseProject-cheap, so
    // the hoist survives optimization. Bit-identical integer math.
    val dqSub = (0 until md.m).map { s2 =>
      val entries = (0 until md.kpq).map(j =>
        s"array(${md.cb(s2)(j).mkString(",")})").mkString(",")
      expr(s"zip_with(slice(__centv, ${s2 * md.sd + 1}, ${md.sd}), " +
        s"array($entries)[code$s2], (c, r) -> c + r)")
    }
    coded
      .withColumn("__centv", expr(s"array(${md.centArrays})[CAST(cell AS INT)]"))
      .withColumn("dq", concat(dqSub: _*))
      .drop("__centv")
      .withColumn("dqn",
        expr("aggregate(transform(dq, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .drop((0 until md.m).map(s2 => s"code$s2"): _*)
  }

  /** EV16's shared body — the frozen-index REBUILD DECISION (r18
    * verdict: VectorStream documents "cd2's drift monitor is the
    * signal" but nothing composed the reading into a verdict). The
    * scenario is faiss's deployment contract: the IVF-PQ model trains
    * ONCE on the base corpus and is frozen; when the corpus is
    * RE-EMBEDDED (`driftRule`, cd2's perturbation by default), the
    * drifted vectors are encoded against the stale codebooks and
    * drifted queries probe stale cells. Two readings compose into the
    * verdict:
    *   - DRIFT: cd2's per-dimension moved count between the base and
    *     re-embedded quantized vectors → n_drifted_dims;
    *   - RECALL: each planted query's frozen-index ANN top-5 (ll34's
    *     two-stage search over the re-encoded corpus) scored against
    *     the exact brute-force top-5 on the same drifted corpus →
    *     per-query n_hit and the index-level mean;
    * rebuild = n_drifted_dims ≥ threshold ∨ mean recall < floor.
    * Scale shape: one trainer (bounded sample), one encode pass, the
    * cell-pruned search, and a 64-row drift aggregate — brute truth is
    * query-set-bounded (10 queries × corpus scan, the price of any
    * recall eval). TrainingOpsSpec pins the verdict flip between the
    * identity re-embedding and the planted drift.
    */
  private[graft] def ivfPqRebuildCheckOf(s: org.apache.spark.sql.SparkSession,
                                         dir: String, driftRule: Option[String],
                                         recallFloorPpm: Long = 600000L,
                                         driftDimThreshold: Long = 16L): DataFrame = {
    val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cur = driftRule.fold(base)(r =>
      base.withColumn("embedding", expr(s"transform(embedding, (x, i) -> $r)")))
    def quant(df: DataFrame) = df.withColumn("q",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .select(col("vec_id"), col("q"))
    val qeBase = quant(base)
    // the FROZEN model: identical training input (same quantization,
    // same count, same deterministic bounded-sample Lloyd loop) as the
    // session-memoized model every other frozen-index consumer shares,
    // so reuse it instead of re-running the trainer's sample collects
    // per invocation — bit-identical centroids/codebooks by
    // determinism
    val model = ivfPqModelOf(s, dir)
    val qeCur = quant(cur)
    val dqed = ivfPqReconstruct(ivfPqEncode(qeCur, model), model)
    // frozen-index ANN top-5 over the re-encoded corpus (ll34's shape)
    val probes = dqed
      .withColumn("qn",
        expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn"),
        col("cell").as("q_cell"))
      .filter(col("query_id") < 10)
    val cand = dqed.join(broadcast(probes),
        col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
      .withColumn("approx",
        expr("aggregate(zip_with(qq, dq, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)") /
          sqrt(col("qn").cast("double") * col("dqn").cast("double")))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id").asc)
    val top50 = cand.withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= 50)
      .select(col("query_id"), col("vec_id"))
    val e = withNorm(cur)
    val qv = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val ann = top50.join(e, "vec_id").join(qv, "query_id")
      .withColumn("sim",
        dotExpr("q_emb", "embedding") / sqrt(col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    // exact brute-force truth on the SAME drifted corpus
    val ex = e.join(broadcast(qv.filter(col("query_id") < 10)),
        col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dotExpr("q_emb", "embedding") / sqrt(col("q_nrm") * col("nrm")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val rec = ex.join(ann.withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    // cd2's drift monitor between the two quantized snapshots
    val drift = qeBase.select(col("vec_id"), col("q").as("qo"))
      .join(qeCur.select(col("vec_id"), col("q").as("qd")), "vec_id")
      .select(explode(expr(
        "transform(sequence(1, 64), i -> named_struct(" +
          "'dim', CAST(i AS BIGINT), 'd', abs(qd[i-1] - qo[i-1])))")).as("x"))
      .groupBy(col("x.dim"))
      .agg(sum(when(col("x.d") =!= 0L, 1L).otherwise(0L)).as("n_moved"))
      .agg(sum(when(col("n_moved") > 0L, 1L).otherwise(0L)).as("n_drifted_dims"))
    val tot = rec.agg(expr(
      "CAST(sum(n_hit) * 1000000L DIV (count(1) * 5) AS BIGINT)").as("mean_recall_ppm"))
    rec.crossJoin(broadcast(drift)).crossJoin(broadcast(tot))
      .select(col("query_id"), col("n_hit").cast("long").as("n_hit"),
        expr("CAST(n_hit * 1000000L DIV 5 AS BIGINT)").as("recall_ppm"),
        col("n_drifted_dims"), col("mean_recall_ppm"),
        (col("n_drifted_dims") >= driftDimThreshold ||
          col("mean_recall_ppm") < recallFloorPpm).as("rebuild"))
  }

  /** cd2's re-embedding rule as a Spark transform lambda body (0-based
    * i); the SQL twin lives in ev16's oracle (1-based range). */
  private[graft] val cd2DriftRule: String =
    "IF(vec_id % 7 = 2 AND i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x)"

  // the frozen IVF-PQ model, one per embeddings version: the trainer
  // is bounded-sample + driver-side, but its collect is not free and
  // every consumer of the shared coded table (ll34's nprobe=1 read,
  // ll35's multi-cell probe) needs the SAME centroids for query-side
  // cell ranking
  private[operators] def ivfPqModelOf(s: org.apache.spark.sql.SparkSession,
                                      dir: String): IvfPqModel =
    graft.State.memo(s, dir, "ivfpqmodel", Tables.snapshotVersion(s, dir, "embeddings")) {
      val qe = Tables.embeddings(s, dir)
        .withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q"))
      trainIvfPq(qe, Tables.countStat(s, dir, "embeddings"))
    }

  /** The MAINTAINED coded table: trainer + encode + reconstruction
    * run once per embeddings version — a deployment maintains its ANN
    * index, it does not re-train per search (VectorStream is the
    * streaming form). No persists inside the build: it runs once, and
    * the scans it repeats are cheap next to the one-time codegen of
    * the 128-expr encode.
    */
  private def ll34Coded(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame =
    Dedup.materializedTable(s, dir, "ll34coded",
      Seq("embeddings")) {
      val qe = Tables.embeddings(s, dir)
        .withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q"))
      val model = ivfPqModelOf(s, dir)
      // one distributed pass: coarse cell + residual + nibble codes,
      // then reconstruction for the ADC scan
      ivfPqReconstruct(ivfPqEncode(qe, model), model)
    }

  /** The MAINTAINED kNN graph (vec_id, rank, neighbor_id) — every
    * vector's top-3 cosine neighbors from ll28's LSH-bucketed build
    * (the bucket self-join + per-vector window, once per embeddings
    * version); ll28 serves the graph and ll36's beam search walks it.
    */
  private[operators] def knnGraphTable(s: org.apache.spark.sql.SparkSession,
                                       dir: String): DataFrame =
    Dedup.materializedTable(s, dir, "knngraph", Seq("embeddings"))(
      bucketTop3(lshBucketed(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))))

  /** The 8-hyperplane LSH bucketing — (vec_id, embedding, nrm,
    * bucket). ONE place: the batch graph build and GraphStream's
    * incremental fold must bucket identically or the fold drifts from
    * the rebuild.
    */
  private[graft] def lshBucketed(vecs: DataFrame): DataFrame = {
    val dims = 64
    val withDots = (0 until 8).foldLeft(withNorm(vecs)) { (df, j) =>
      df.withColumn(s"d$j", dotExpr("embedding", s"array(${hyperplane(j, dims).mkString(",")})"))
    }
    withDots
      .withColumn("bucket",
        (0 until 8).map(j =>
          when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("bucket"))
  }

  /** The graph's defining rule — top-3 cosine neighbors WITHIN each
    * bucket of a (vec_id, embedding, nrm, bucket) frame, ties to the
    * lower id. Bucket-local by construction, which is what makes the
    * streaming fold exact: a node's edges depend only on its bucket's
    * membership, and an add-only stream only ever grows buckets.
    */
  private[graft] def bucketTop3(members: DataFrame): DataFrame = {
    val nb = members.select(col("bucket").as("nb_bucket"), col("vec_id").as("nb_id"),
      col("embedding").as("nb_emb"), col("nrm").as("nb_nrm"))
    val scored = members.join(nb,
        col("bucket") === col("nb_bucket") && col("vec_id") =!= col("nb_id"))
      .withColumn("sim", dotExpr("embedding", "nb_emb") / sqrt(col("nrm") * col("nb_nrm")))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("nb_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("nb_id").as("neighbor_id"))
  }

  /** Per-query ENTRY POINTS — the coarse-routing role HNSW's upper
    * layers play, served by the structure the index already has: each
    * query starts its walk at the lowest id in its own LSH bucket
    * (`entries` is the bucket→entry route table, model-sized). A
    * query whose bucket is absent from the corpus falls back to the
    * global minimum entry. Returns (query_id, entry).
    */
  private[graft] def routeOf(entries: DataFrame, queries: DataFrame): DataFrame = {
    val qb = lshBucketed(queries.select(col("query_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"), col("bucket"))
    // the global-min fallback rides the same plan as a broadcast
    // scalar (no per-call driver action); an EMPTY route table —
    // empty corpus — yields a null fallback, and the filter turns
    // that into an empty route, i.e. the typed empty walk result
    val fallback = entries.agg(min(col("entry")).as("fb"))
    qb.join(broadcast(entries), Seq("bucket"), "left")
      .crossJoin(broadcast(fallback))
      .select(col("query_id"), coalesce(col("entry"), col("fb")).as("entry"))
      .filter(col("entry").isNotNull)
  }

  /** The maintained ROUTE TABLE (bucket, entry = min vec_id in the
    * bucket) — ~256 rows, the graph index's "upper layer"; rebuilt
    * with the graph on the embeddings watermark.
    */
  private[operators] def knnRouteTable(s: org.apache.spark.sql.SparkSession,
                                       dir: String): DataFrame =
    Dedup.materializedTable(s, dir, "knnroute", Seq("embeddings"))(
      lshBucketed(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
        .groupBy(col("bucket")).agg(min(col("vec_id")).as("entry")))

  /** The shared (corpus, queries, route) frames the ll36/ll38/ev17
    * walks read — ONE place for the query convention (vec_id < 10)
    * and the route construction.
    */
  private def walkInputs(s: org.apache.spark.sql.SparkSession,
                         dir: String): (DataFrame, DataFrame, DataFrame) = {
    val e = withNorm(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
      .select(col("vec_id").as("node"), col("embedding"), col("nrm"))
    val q = withNorm(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val route = routeOf(knnRouteTable(s, dir),
      q.select(col("query_id"), col("q_emb").as("embedding")))
    (e, q, route)
  }

  /** ll36's beam walk over ARBITRARY graph + vector frames — shared by
    * the batch query (maintained knngraph) and GraphStream.search (the
    * streamed stores), so the two read paths cannot drift. `e` is
    * (node, embedding, nrm), `g` is (vec_id, rank, neighbor_id), `q`
    * is (query_id, q_emb, q_nrm), `route` is (query_id, entry) from
    * [[routeOf]]; returns (query_id, rank, neighbor_id). Beams collect
    * per hop — queries × beam rows, model-sized at any corpus.
    */
  private[graft] def graphWalk(e: DataFrame, g: DataFrame, q: DataFrame,
                               route: DataFrame,
                               hops: Int = 3, beamWidth: Int = 4,
                               k: Int = 3): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    // no distinct here: candOf dedups (query_id, node) anyway, and a
    // distinct over the symmetrized edge frame would re-shuffle the
    // corpus-sized graph on EVERY hop action
    val sym = g.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .unionByName(g.select(col("neighbor_id").as("src"), col("vec_id").as("dst")))
    def score(f: DataFrame): DataFrame = f
      .join(e, "node")
      .join(broadcast(q), "query_id")
      .withColumn("sim", dotExpr("q_emb", "embedding") / sqrt(col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("node").asc)
    def candOf(beam: Seq[(Long, Long)]): DataFrame = {
      val f = beam.toDF("query_id", "node")
      f.unionByName(
          f.join(sym, col("node") === col("src"))
            .select(col("query_id"), col("dst").as("node")))
        .distinct()
    }
    var beam: Seq[(Long, Long)] = route.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq // queries × 1 rows
    for (_ <- 1 until hops) {
      beam = score(candOf(beam))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= beamWidth)
        .select(col("query_id"), col("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq // ≤ |q| × beam rows
    }
    // last hop fused with the answer: the final top-k comes from inside
    // the last beam (top-beamWidth incl. a possible self), so one plan
    // ranks the beam, drops self, and re-ranks — no extra collect
    score(candOf(beam))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= beamWidth)
      .filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"))
  }

  /** The MAINTAINED streamed graph state ll37 reads (one
    * [[Dedup.streamedState]] fold per embeddings version): embeddings
    * fold through GraphStream as three interleaved batches, then
    * LSM-compact with the last batch held in-flight — exactly the state
    * a live embedding stream maintains.
    */
  private def streamedGraphState(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String =
    Dedup.streamedState(s, dir, "ll37", "embeddings") { base =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      (0 to 2).foreach { b =>
        graft.streaming.GraphStream.processBatch(s,
          emb.filter(col("vec_id") % 3 === b), base, b.toLong)
      }
      graft.streaming.GraphStream.compactState(s, base, targetFiles = 1,
        excludeBatchId = 2L)
    }

  val defs: Map[String, Q] = Map(

    // Brute-force cosine top-5 for queries vec_id < 10. Exact baseline.
    "ll3_ann_topk" -> ((s, dir) => annTopK(s, dir, sameCell = false)),

    // Hard-NEGATIVE mining — the contrastive-training composition of
    // the ANN family: for each query, the top-5 most similar vectors
    // with a DIFFERENT label (similar-but-wrong examples are what
    // contrastive/reranker training feeds on; same-label neighbors
    // are positives and excluded). Brute-force broadcast-query
    // baseline like ll3; the scale path is ll4's cell pruning with
    // the label anti-filter applied to candidates.
    "ll21_hard_negatives" -> ((s, dir) => {
      val e = withNorm(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label")))
      val q = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("label").as("q_label")).filter(col("query_id") < 10)
      val scored = e.join(broadcast(q),
          col("label") =!= col("q_label") && col("vec_id") =!= col("query_id"))
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // IVF-style cell-restricted search: only candidates in the query's
    // cell (label) are scored — partition pruning at scale.
    "ll4_ann_ivf" -> ((s, dir) => annTopK(s, dir, sameCell = true)),

    // ANN RECALL evaluation — the quality harness as a first-class
    // query: recall@5 of the IVF cell-pruned search (ll4) against the
    // exact brute-force ranking (ll3), per query. This is the number
    // an index owner watches when tuning nprobe/cells; computing it
    // IN the engine means the evaluation runs where the index lives
    // (both sides share the broadcast-query shape; the join is
    // 50x50-row metadata). TrainingOpsSpec asserts the same metric
    // once; this makes it a monitorable output.
    "ev1_ann_recall" -> ((s, dir) => {
      val exact = annTopK(s, dir, sameCell = false)
        .select(col("query_id"), col("neighbor_id"))
      val approx = annTopK(s, dir, sameCell = true)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", col("n_hit") / col("k"))
    }),

    // IVF with a TRAINED coarse quantizer: deterministic k-means
    // (k=8, 2 Lloyd iterations, integer-quantized vectors) trained on
    // a bounded ~1024-vector hash-mod sample (rate from the memoized
    // row-count stat) builds the cells, then the search prunes to the query's
    // trained cell — closing ll4's "labels pre-assigned" gap. The
    // oracle replays the whole sampled training loop in SQL, so the
    // check covers the trainer, the assignment AND the pruned search.
    "ll4b_ann_ivf_trained" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val qe = base.withColumn("q",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q"))
      val n = Tables.countStat(s, dir, "embeddings")
      val step = math.max(1L, (n + 1023L) / 1024L) // ceil(n/1024): ~1024 samples
      val cells = trainCells(qe, 8, 2, 64, step)
      val e = withNorm(base).join(cells, "vec_id")
      val q = e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell").as("q_cell")).filter(col("query_id") < 10)
      val scored = e.join(broadcast(q),
          col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // FULL-CORPUS k-means refinement (distributed Lloyd): 2
    // iterations from the k lowest-id vectors, then a final
    // assignment rolled up per cell with its exact integer inertia.
    // ll4b trains on a bounded sample (the IVF quantizer contract —
    // training cost corpus-independent); THIS operator is the other
    // regime: when the clusters themselves are the product (semantic
    // curation, SemDeDup's step 1), each Lloyd iteration is one
    // corpus scan + one (cell, dim)-bounded aggregate — see
    // lloydRefine. The oracle replays both iterations and the final
    // assignment bit-for-bit.
    "ll26_kmeans_refine" -> ((s, dir) => {
      val qe = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // init + per-iteration + final-assign scans
      val init = qe.orderBy(col("vec_id")).limit(8)
        .collect().map(_.getSeq[Long](1).toArray) // k rows — model-sized
      val cents = lloydRefine(qe, init, iters = 2, dim = 64)
      assignCells(qe, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          min(col("vec_id")).as("min_vec_id"),
          sum(col("dmin")).as("inertia"))
    }),

    // Embedding-cosine near-dup: candidate pairs from identical LSH
    // buckets (8 hyperplane bits), exact-cosine verified at >= 0.8.
    // The oracle mirrors the bucket computation, so both sides build
    // the same candidate set — the check verifies the bucketed
    // algorithm, which at 100 TB touches ~corpus/256 pairs per bucket
    // instead of the n^2 cross join.
    "ll8_embedding_neardup" -> ((s, dir) => {
      // two-crawl corpus: each vector plus a copy with its first 32
      // dims scaled 1.1x — cosine ~0.99 to the original, so true
      // near-dup pairs exist (random vectors alone never clear 0.8)
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val perturbed = base.select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x))")
          .as("embedding"))
      val e = withNorm(base.unionByName(perturbed))
      val dims = 64
      val withDots = (0 until 8).foldLeft(e) { (df, j) =>
        df.withColumn(s"d$j", dotExpr("embedding", s"array(${hyperplane(j, dims).mkString(",")})"))
      }
      val bucketed = withDots
        .withColumn("bucket",
          (0 until 8).map(j =>
            when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bucketed.as("x").join(bucketed.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .withColumn("dot", dotExpr("x.embedding", "y.embedding"))
        .withColumn("sim", col("dot") / sqrt(col("x.nrm") * col("y.nrm")))
        .filter(col("sim") >= 0.8)
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
          col("x.bucket").as("bucket"))
    }),

    // Scalar-quantized ANN (SQ8 codes + exact rerank) — the
    // memory-scale retrieval path: every float dim compresses to an
    // int8-range code against the corpus-wide per-dimension (min, max)
    // envelope (a 4x smaller index: 100 TB of float32 vectors becomes
    // ~25 TB of codes), candidates rank by the integer code dot
    // product, and only the top-20 per query are reranked with the
    // exact double cosine. The range envelope is 64 (lo, span) pairs —
    // model-sized driver state exactly like ll4b's centroids; coding
    // is a narrow map, and the search is the same broadcast-query scan
    // as ll3 but arithmetic-light until the 20-candidate rerank.
    // Quantization, code dots and the rerank are exact integer /
    // element-order double math, so the oracle replays the full
    // two-stage retrieval bit-for-bit.
    "ll16_quantized_ann" -> ((s, dir) => {
      val dim = 64
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val qe = base.withColumn("q",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // range scan + coding scan
      val rng = qe.agg(
        min(col("q")(0)).as("lo0"),
        (1 until dim).map(i => min(col("q")(i)).as(s"lo$i")) ++
          (0 until dim).map(i => max(col("q")(i)).as(s"hi$i")): _*).first()
      val lo = (0 until dim).map(i => rng.getAs[Long](s"lo$i")).toArray
      val span = (0 until dim).map(i =>
        math.max(1L, rng.getAs[Long](s"hi$i") - lo(i))).toArray
      // candidate scoring reconstructs each dim from its code in the
      // 255x-scaled integer domain (dq = lo*255 + code*span) so the
      // approximate cosine is exact integer dots over the DECODED
      // values — raw code-domain dots drop the per-dim affine shift
      // and the norm, and misrank badly (recall@5 measured 0.1)
      val coded = qe.withColumn("code",
        expr(s"zip_with(zip_with(q, array(${lo.mkString(",")}), (x, l) -> x - l), " +
          s"array(${span.mkString(",")}), (x, sp) -> (x * 255) div sp)"))
        .select(col("vec_id"), col("code"))
      val dqed = coded.withColumn("dq",
        expr(s"zip_with(zip_with(code, array(${span.mkString(",")}), (c, sp) -> c * sp), " +
          s"array(${lo.mkString(",")}), (x, l) -> x + l * 255)"))
        .withColumn("dqn",
          expr("aggregate(transform(dq, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("vec_id"), col("dq"), col("dqn"))
      val probes = dqed.select(col("vec_id").as("query_id"), col("dq").as("q_dq"),
        col("dqn").as("q_dqn")).filter(col("query_id") < 10)
      val cand = dqed.join(broadcast(probes), col("vec_id") =!= col("query_id"))
        .withColumn("approx",
          expr("aggregate(zip_with(q_dq, dq, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)") /
            sqrt(col("q_dqn").cast("double") * col("dqn").cast("double")))
      val wApprox = Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("vec_id").asc)
      val top20 = cand.withColumn("arank", row_number().over(wApprox))
        .filter(col("arank") <= 20)
        .select(col("query_id"), col("vec_id"))
      val e = withNorm(base)
      val scored = top20
        .join(e, "vec_id")
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), "query_id")
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // PRODUCT-QUANTIZATION ANN (PQ/ADC, Jegou et al. TPAMI 2011) —
    // the memory-scale step past ll16's SQ8: the 64-dim space splits
    // into m=8 disjoint 8-dim subspaces, each learning a 16-centroid
    // codebook by the same bounded-sample deterministic integer
    // k-means as ll4b (~1024 hash-mod-sampled vectors on the driver,
    // 1 Lloyd iteration, init = the 16 lowest sampled ids'
    // subvectors); every corpus vector then encodes to 8 nibble codes
    // — a 64x index shrink vs float32 (100 TB of vectors becomes
    // ~1.6 TB of codes), vs SQ8's 4x. Search is ASYMMETRIC distance
    // computation: the query keeps its exact quantized vector, the
    // corpus side is reconstructed from codebook entries, candidates
    // rank by the integer reconstructed dot product, and only the
    // top-20 rerank with the exact double cosine (ll16's two-stage
    // shape; the coarse scan is one codegen'd broadcast-query map).
    // Training, encoding, reconstruction and both ranking stages are
    // exact integer / element-order double arithmetic, so the oracle
    // replays the full trainer + encoder + two-stage search.
    "ll24_pq_ann" -> ((s, dir) => {
      val dim = 64; val m = 8; val sd = dim / m; val k = 16
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // maintained coded table, same convention (and note) as ll34's
      val dqed = Dedup.materializedTable(s, dir, "ll24coded",
        Seq("embeddings")) {
      val qe = base.withColumn("q",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q"))
      val n = Tables.countStat(s, dir, "embeddings")
      val step = math.max(1L, (n + 1023L) / 1024L) // ceil(n/1024): ~1024 samples
      val sample = sampleQuantized(qe, step)
      val cb = trainPqCodebooks(sample, m, sd, k, 1)
      // encode: per subspace, nearest codebook entry by exact integer
      // squared distance (ties to the lowest code — array_position
      // returns the FIRST minimum, mirroring the oracle's (dist, cid)
      // row_number order)
      val dists = for (s2 <- 0 until m; j <- 0 until k) yield
        expr(s"aggregate(zip_with(slice(q, ${s2 * sd + 1}, $sd), " +
          s"array(${cb(s2)(j).mkString(",")}), (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as(s"d${s2}_$j")
      val wd = qe.select(col("vec_id") +: col("q") +: dists: _*)
      val codes = (0 until m).map { s2 =>
        val dl = (0 until k).map(j => s"d${s2}_$j").mkString(",")
        (expr(s"array_position(array($dl), array_min(array($dl)))") - 1)
          .cast("int").as(s"code$s2")
      }
      val coded = wd.select(col("vec_id") +: col("q") +: codes: _*)
      // reconstruct from the codebook (0-based [] subscript) and keep
      // the exact query-side norm for the asymmetric compare
      val dqSub = (0 until m).map { s2 =>
        val entries = (0 until k).map(j => s"array(${cb(s2)(j).mkString(",")})").mkString(",")
        expr(s"array($entries)[code$s2]")
      }
      coded
        .withColumn("dq", concat(dqSub: _*))
        .withColumn("dqn",
          expr("aggregate(transform(dq, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("vec_id"), col("q"), col("dq"), col("dqn"))
      }
      val probes = dqed
        .withColumn("qn",
          expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn"))
        .filter(col("query_id") < 10)
      val cand = dqed.join(broadcast(probes), col("vec_id") =!= col("query_id"))
        .withColumn("approx",
          expr("aggregate(zip_with(qq, dq, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)") /
            sqrt(col("qn").cast("double") * col("dqn").cast("double")))
      val wApprox = Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("vec_id").asc)
      val top20 = cand.withColumn("arank", row_number().over(wApprox))
        .filter(col("arank") <= 50)
        .select(col("query_id"), col("vec_id"))
      val e = withNorm(base)
      val scored = top20
        .join(e, "vec_id")
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), "query_id")
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // IVF-PQ COMPOSED ANN — the production faiss index shape
    // (IVFADC, Jegou et al. TPAMI 2011 §IV): ll4b's trained coarse
    // quantizer prunes the scan to the query's cell, and ll24's
    // product quantizer codes each vector's RESIDUAL to its assigned
    // centroid (residuals are smaller and better-centered than raw
    // vectors, so the same codebook budget spends its precision where
    // the data actually varies). Train: 8 coarse cells on the bounded
    // ~1024-vector hash-mod sample (2 Lloyd iterations), then 8x16
    // residual codebooks on the SAME sample's coarse residuals (1
    // iteration) — all driver-side, corpus-independent. Index: one
    // distributed pass assigns cells, subtracts the cell centroid,
    // and encodes 8 nibble codes/vector. Search: ADC inside the
    // query's cell only (cell pruning x 64x code shrink — at 100 TB
    // the scan touches ~1/8 of a ~1.6 TB code table), integer
    // reconstructed dots rank candidates, top-50 rerank with the
    // exact double cosine. Every stage is the file's exact integer /
    // element-order double discipline, so the oracle replays the
    // coarse trainer + residual PQ trainer + encoder + pruned
    // two-stage search bit-for-bit.
    "ll34_ivfpq_ann" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val dqed = ll34Coded(s, dir)
      // queries keep their exact quantized vector and probe their own
      // coarse cell (nprobe=1 — ll4b's pruning joined to ll24's ADC)
      val probes = dqed
        .withColumn("qn",
          expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn"),
          col("cell").as("q_cell"))
        .filter(col("query_id") < 10)
      val cand = dqed.join(broadcast(probes),
          col("cell") === col("q_cell") && col("vec_id") =!= col("query_id"))
        .withColumn("approx",
          expr("aggregate(zip_with(qq, dq, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)") /
            sqrt(col("qn").cast("double") * col("dqn").cast("double")))
      val wApprox = Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("vec_id").asc)
      val top50 = cand.withColumn("arank", row_number().over(wApprox))
        .filter(col("arank") <= 50)
        .select(col("query_id"), col("vec_id"))
      val e = withNorm(base)
      val scored = top50
        .join(e, "vec_id")
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), "query_id")
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // LL35: IVF-PQ with MULTI-CELL PROBING (nprobe=2 — faiss's recall
    // knob, Jegou et al. TPAMI 2011 §V.C): nprobe=1 loses every true
    // neighbor whose vector quantized into a DIFFERENT coarse cell
    // than the query (the dominant recall loss at small k_c); probing
    // the nprobe nearest cells recovers them for nprobe/k_c of the
    // scan cost — at 100 TB, 2/8ths of a ~1.6 TB code table instead
    // of 1/8th, still never the corpus. Reads the SAME maintained
    // coded table and frozen model as ll34 (one index, many read
    // policies); per query the 8 centroid distances rank driver-free
    // via an array_sort of (dist, cell) structs — exact integer
    // distances, ties to the lower cell id, the trainer's own order.
    // TrainingOpsSpec pins recall@5 monotone vs ll34's nprobe=1 read.
    "ll35_ivfpq_nprobe" -> ((s, dir) => {
      val nprobe = 2
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val dqed = ll34Coded(s, dir)
      val md = ivfPqModelOf(s, dir)
      val cellDists = (0 until md.kc).map(j =>
        expr(s"aggregate(zip_with(q, array(${md.cents(j).mkString(",")}), " +
          "(x, c) -> (x - c) * (x - c)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as(s"cd$j"))
      val structs = (0 until md.kc)
        .map(j => s"struct(cd$j AS d, CAST($j AS BIGINT) AS c)").mkString(",")
      val probes = dqed.filter(col("vec_id") < 10)
        .select(col("vec_id") +: col("q") +: cellDists: _*)
        .withColumn("pcells",
          expr(s"transform(slice(array_sort(array($structs)), 1, $nprobe), x -> x.c)"))
        .withColumn("qn",
          expr("aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
        .select(col("vec_id").as("query_id"), col("q").as("qq"), col("qn"),
          col("pcells"))
      // the probed (query, cell) pairs EXPLODE to an equi-join key —
      // a hash join against the cell-keyed coded scan, never a
      // nested-loop; each coded vector has ONE cell so no candidate
      // duplicates across probes
      val qcells = probes
        .select(col("query_id"), explode(col("pcells")).as("pcell"))
      val cand = dqed
        .join(broadcast(qcells), col("cell").cast("long") === col("pcell"))
        .filter(col("vec_id") =!= col("query_id"))
        .join(broadcast(probes.drop("pcells")), "query_id")
        .withColumn("approx",
          expr("aggregate(zip_with(qq, dq, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)") /
            sqrt(col("qn").cast("double") * col("dqn").cast("double")))
      val wApprox = Window.partitionBy(col("query_id"))
        .orderBy(col("approx").desc, col("vec_id").asc)
      val top50 = cand.withColumn("arank", row_number().over(wApprox))
        .filter(col("arank") <= 50)
        .select(col("query_id"), col("vec_id"))
      val e = withNorm(base)
      val scored = top50
        .join(e, "vec_id")
        .join(e.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm")), "query_id")
        .withColumn("dot", dotExpr("q_emb", "embedding"))
        .withColumn("sim", col("dot") / sqrt(col("q_nrm") * col("nrm")))
      topK(scored, 5)
    }),

    // EV16: the frozen IVF-PQ index's REBUILD DECISION under cd2's
    // planted re-embedding drift — see ivfPqRebuildCheckOf. The
    // verdict composes the drift monitor (32 of 64 dims moved >= the
    // 16-dim threshold -> rebuild fires here) with the recall floor
    // (mean frozen-index recall@5 vs exact brute on the drifted
    // corpus); TrainingOpsSpec pins that the identity re-embedding
    // reads rebuild=false on the same plan.
    "ev16_index_rebuild_check" -> ((s, dir) =>
      ivfPqRebuildCheckOf(s, dir, Some(cd2DriftRule))),

    // SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    // arXiv:2303.09540): cluster the corpus (here the deterministic
    // 8-hyperplane LSH buckets stand in for the paper's k-means
    // cells), pick one representative per cluster (lowest vec_id),
    // and drop every other member whose exact cosine to the
    // representative clears 0.9. Unlike pairwise near-dup (ll8) this
    // never joins members to members — each vector compares to
    // exactly ONE representative, so the 100 TB plan is
    // corpus-linear: one bucket shuffle, one representative join
    // (corpus/256 reps — broadcastable far beyond this SF), one
    // codegen'd cosine per vector. Same two-crawl corpus as ll8 so
    // true semantic dups exist.
    "ll17_semantic_dedup" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val perturbed = base.select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x))")
          .as("embedding"))
      val e = withNorm(base.unionByName(perturbed))
      val dims = 64
      val withDots = (0 until 8).foldLeft(e) { (df, j) =>
        df.withColumn(s"d$j", dotExpr("embedding", s"array(${hyperplane(j, dims).mkString(",")})"))
      }
      val bucketed = withDots
        .withColumn("bucket",
          (0 until 8).map(j =>
            when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
        .select(col("vec_id"), col("embedding"), col("nrm"), col("bucket"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // members scan + reps extract
      val reps = bucketed.groupBy(col("bucket")).agg(min(col("vec_id")).as("rep_id"))
        .select(col("rep_id")) // rep membership implies its bucket
      val repVecs = bucketed.join(broadcast(reps), col("vec_id") === col("rep_id"))
        .select(col("bucket"), col("rep_id"), col("embedding").as("rep_emb"),
          col("nrm").as("rep_nrm"))
      bucketed.join(broadcast(repVecs), "bucket")
        .withColumn("rep_sim", dotExpr("embedding", "rep_emb") / sqrt(col("nrm") * col("rep_nrm")))
        .select(col("vec_id"), col("bucket"), col("rep_id"),
          (col("vec_id") === col("rep_id") || col("rep_sim") < 0.9).as("kept"))
    }),

    // k-NN GRAPH construction — the curation primitive under
    // graph-based diversity/dedup methods (and the build step of
    // NN-descent/HNSW-class indexes): EVERY vector gets its top-3
    // cosine neighbors, not just a bounded query set (ll3/ll7's
    // regime). Brute force would be the n² trap; candidates come from
    // ll8's 8-hyperplane LSH buckets (expected corpus/256 per
    // bucket), so the pair volume is the banded-join budget and the
    // per-vector top-3 is one high-NDV-keyed window. Rank ties break
    // (sim DESC, neighbor ASC), mirrored in the oracle. The graph is
    // a MAINTAINED index (knnGraphTable): built once per corpus
    // snapshot, served as one columnar scan here and walked by ll36.
    "ll28_knn_graph" -> ((s, dir) => knnGraphTable(s, dir)),

    // GRAPH-WALK ANN — the HNSW/NSG family (Malkov & Yashunin
    // TPAMI'18, reduced to one deterministic layer + a coarse
    // router): greedy BEAM SEARCH over the maintained kNN graph
    // instead of scanning a cell (IVF, ll4/ll34) or a bucket union
    // (LSH, ll7). Each query ENTERS at the lowest id in its own LSH
    // bucket (the maintained ~256-row route table — the role HNSW's
    // upper layers play, served by structure the index already has;
    // a single global entry cannot even retrieve a planted same-
    // bucket twin — 3 beam-pruned hops don't cross a 2000-node
    // graph — while the routed walk finds every twin at rank 1,
    // TrainingOpsSpec's pin). Each hop expands the current beam's
    // symmetrized graph neighbors, scores every candidate by EXACT
    // cosine against the query, and keeps the top-4 beam (ties to
    // the lower id); the union with the previous beam makes the walk
    // monotone, so after 3 hops the beam holds the best nodes seen
    // and its top-3 (self excluded) are the answer. The frontier is
    // queries × beam rows — COLLECTED per hop (≤ 40 rows,
    // model-sized, never corpus-sized), which both drives the
    // sequential hops and starts each hop's plan from literals
    // instead of nesting the previous hop's plan twice (the union +
    // join would double the executed plan per hop). At 100 TB the
    // per-hop cost is |beam| graph probes + |candidates| vector
    // lookups — independent of corpus size, the property that makes
    // graph ANN the serving default; the corpus-sized work is the
    // maintained table's one-time build. The oracle replays the
    // identical routed walk, hop by hop.
    "ll36_graph_ann" -> ((s, dir) => {
      val (e, q, route) = walkInputs(s, dir)
      graphWalk(e, knnGraphTable(s, dir), q, route)
    }),

    // ll37: the SAME walk served from GraphStream's STREAMED stores —
    // the corpus arrives as three interleaved vector batches, the
    // maintained graph folds incrementally (later batches re-edging
    // earlier nodes — the retroactive case), and state LSM-compacts
    // with the last batch held in-flight. The fold runs once per
    // embeddings version (the ts9 convention — a live
    // deployment pays the fold as batches arrive, not per query);
    // graphWalk then reads the streamed graph + vecs. The oracle is
    // ll36's verbatim: fold ≡ rebuild and one shared read path mean
    // the batch-built and stream-maintained indexes must answer
    // identically — the differential gate proves both at once.
    "ll37_graph_ann_streamed" -> ((s, dir) => {
      val state = streamedGraphState(s, dir)
      graft.streaming.GraphStream.search(s, state,
        Tables.embeddings(s, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding")))
    }),

    // ll38: the graph walk's QUALITY KNOB — beam width 8 instead of 4
    // (HNSW's efSearch; ll35's nprobe is the same dial on the IVF
    // arm). Not a theorem — beam search is not monotone in width (a
    // wider hop-1 beam can evict a node the narrow walk kept) — but
    // the pipeline is fully deterministic, so TrainingOpsSpec pins
    // the dominance and recall empirically on the gate corpus, ll35's
    // caveat pattern. Cost stays beam-bounded — 2x the probes per
    // hop, corpus-independent either way.
    "ll38_graph_ann_beam8" -> ((s, dir) => {
      val (e, q, route) = walkInputs(s, dir)
      graphWalk(e, knnGraphTable(s, dir), q, route, beamWidth = 8)
    }),

    // EV17: GRAPH-WALK RECALL — ev1's harness pointed at the graph
    // arm: recall@3 of ll36's beam walk against the exact brute-force
    // top-3 (ll3's plan), per query. The number an index owner reads
    // when tuning hops/beam/entry — computed in the engine, where the
    // graph lives, like every other eval leg. CALIBRATION: this
    // synthetic corpus is near-orthogonal noise (max cosine ~0.37),
    // where bucket-local edges carry no global signal — ev1's IVF
    // recall reads ~0.1 on the same data and this reads ~0; the
    // structure-present exhibit is TrainingOpsSpec's planted-twin
    // pin (every twin retrieved at rank 1). The harness exists so an
    // owner sees exactly that difference on their corpus.
    "ev17_graph_recall" -> ((s, dir) => {
      val exact = annTopK(s, dir, sameCell = false)
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val (e, q, route) = walkInputs(s, dir)
      val approx = graphWalk(e, knnGraphTable(s, dir), q, route)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall", col("n_hit") / col("k"))
    }),

    // DIVERSITY COVERAGE SAMPLE (k-center-style coreset): one medoid
    // per ll26 k-means cell — the member with the smallest exact
    // integer distance to its cell centroid (ties to the lowest id).
    // The greedy k-center chain is inherently sequential; the
    // cluster-medoid relaxation is the standard distributed coreset
    // (one Lloyd refinement + one min(struct) per cell), and every
    // stage is the ll26 machinery, so cost is iters+1 linear scans
    // and the output is k rows at any corpus size.
    "ll29_diverse_sample" -> ((s, dir) => {
      val qe = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // init + per-iteration + final-assign scans
      val init = qe.orderBy(col("vec_id")).limit(8)
        .collect().map(_.getSeq[Long](1).toArray) // k rows — model-sized
      val cents = lloydRefine(qe, init, iters = 2, dim = 64)
      assignCells(qe, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          min(struct(col("dmin"), col("vec_id"))).as("m"))
        .select(col("cell"), col("m.vec_id").as("medoid_id"),
          col("m.dmin").as("medoid_dist"), col("n_members"))
    }),

    // SemDeDup with the PAPER's actual step 1 (Abbas et al. 2023
    // §3: k-means cells, not ll17's LSH stand-in): cluster the
    // two-crawl corpus with 2 distributed Lloyd iterations
    // (lloydRefine — one scan + one model-sized aggregate per
    // iteration), take the lowest-id member as each cell's
    // representative, and keep a member iff its exact cosine to the
    // representative stays under 0.9. Still corpus-linear: members
    // never join members, each vector compares to exactly ONE
    // broadcast representative. The oracle replays Lloyd + the
    // representative rule end-to-end.
    "ll27_semdedup_kmeans" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val perturbed = base.select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x))")
          .as("embedding"))
      val corpus = base.unionByName(perturbed)
      val qe = corpus.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // init + per-iteration + final-assign scans
      val init = qe.orderBy(col("vec_id")).limit(8)
        .collect().map(_.getSeq[Long](1).toArray) // k rows — model-sized
      val cents = lloydRefine(qe, init, iters = 2, dim = 64)
      val e = withNorm(corpus)
        .join(assignCells(qe, cents).select(col("vec_id"), col("cell")), "vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // reps extract + member scan
      val reps = e.groupBy(col("cell")).agg(min(col("vec_id")).as("rep_id"))
        .select(col("rep_id"))
      val repVecs = e.join(broadcast(reps), col("vec_id") === col("rep_id"))
        .select(col("cell"), col("rep_id"), col("embedding").as("rep_emb"),
          col("nrm").as("rep_nrm"))
      e.join(broadcast(repVecs), "cell")
        .withColumn("rep_sim", dotExpr("embedding", "rep_emb") / sqrt(col("nrm") * col("rep_nrm")))
        .select(col("vec_id"), col("cell"), col("rep_id"),
          (col("vec_id") === col("rep_id") || col("rep_sim") < 0.9).as("kept"))
    }),

    // CP3: the composed EMBEDDING-CURATION RELEASE — round 12's
    // answer to cp1/cp2's text pipelines, one Catalyst plan end to
    // end: 2-iteration distributed Lloyd clusters the two-crawl
    // corpus (ll26), SemDeDup's representative rule marks the keep
    // set (ll27), and each cell ships a manifest row — member/kept
    // counts plus the KEPT-set medoid (ll29's coreset pick restricted
    // to survivors, ties to the lowest id). The manifest is what a
    // release pipeline hands the trainer: k rows, one per cell, at
    // any corpus size.
    "cp3_embedding_curation" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val perturbed = base.select((col("vec_id") + 10000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i < 32, CAST(CAST(x AS DOUBLE) * 1.1 AS FLOAT), x))")
          .as("embedding"))
      val corpus = base.unionByName(perturbed)
      val qe = corpus.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // init + iterations + final assign
      val init = qe.orderBy(col("vec_id")).limit(8)
        .collect().map(_.getSeq[Long](1).toArray) // k rows — model-sized
      val cents = lloydRefine(qe, init, iters = 2, dim = 64)
      val e = withNorm(corpus)
        .join(assignCells(qe, cents), "vec_id") // brings cell AND dmin
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // reps + rollup
      val reps = e.groupBy(col("cell")).agg(min(col("vec_id")).as("rep_id"))
        .select(col("rep_id"))
      val repVecs = e.join(broadcast(reps), col("vec_id") === col("rep_id"))
        .select(col("cell"), col("rep_id"), col("embedding").as("rep_emb"),
          col("nrm").as("rep_nrm"))
      e.join(broadcast(repVecs), "cell")
        .withColumn("kept", col("vec_id") === col("rep_id") ||
          dotExpr("embedding", "rep_emb") / sqrt(col("nrm") * col("rep_nrm")) < 0.9)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          min(when(col("kept"), struct(col("dmin"), col("vec_id")))).as("m"))
        .select(col("cell"), col("n_members"), col("n_kept"),
          col("m.vec_id").as("medoid_id"), col("m.dmin").as("medoid_dist"))
    }),

    // Embedding OUTLIER filtering — the embedding-space quality gate:
    // per-label centroid over integer-quantized vectors, exact squared
    // L2 distance of each vector to its label's centroid, outlier =
    // distance beyond 1.5x the label's mean distance. All arithmetic
    // stays integer (quantized coords, truncating centroid division,
    // cross-multiplied threshold compare), so the oracle replays it
    // bit-for-bit. Two shuffles total regardless of corpus size: the
    // label-keyed centroid/stat partial aggregates (model-sized
    // output, broadcast back) — the per-vector work is a narrow map.
    "ll11_embedding_outliers" -> ((s, dir) => {
      val dim = 64
      val qe = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
            .as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cents = qe.groupBy(col("label"))
        .agg(count(lit(1)).as("n"), (0 until dim).map(i => sum(col("q")(i)).as(s"s$i")): _*)
        .select(col("label"), array((0 until dim).map(i =>
          expr(s"CAST(s$i DIV n AS BIGINT)")): _*).as("c"))
      val d = qe.join(broadcast(cents), "label")
        .withColumn("dist", expr("sqdist_native(q, c)"))
        .select(col("vec_id"), col("label"), col("dist"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // feeds stats AND the final join — one distance pass
      val stats = d.groupBy(col("label"))
        .agg(sum(col("dist")).as("sd"), count(lit(1)).as("nl"))
      d.join(broadcast(stats), "label")
        .select(col("vec_id"), col("label"), col("dist"),
          (lit(2) * col("dist") * col("nl") > lit(3) * col("sd")).as("is_outlier"))
    }),

    // Random-hyperplane LSH bucketing: 8-bit signature per vector.
    // Output is the bucket histogram (the candidate-generation side of
    // LSH ANN; within-bucket rerank then mirrors ll3 on ~1/256 of the
    // corpus per query).
    "ll7_ann_lsh_buckets" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val dims = 64
      val withDots = (0 until 8).foldLeft(e) { (df, j) =>
        df.withColumn(s"d$j", dotExpr("embedding", s"array(${hyperplane(j, dims).mkString(",")})"))
      }
      withDots
        .withColumn("bucket",
          (0 until 8).map(j =>
            when(col(s"d$j") >= 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))
    })
  )

  private[operators] val normSql =
    "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** The ll4 (cell-pruned) oracle body, exposed so ts8's hybrid
    * fusion oracle embeds the SAME semantic-leg SQL it fuses. */
  private[operators] def annOracleIvf: String = annOracle("AND label = q_label")

  private def annOracle(cellFilter: String): String =
    s"""WITH e AS (SELECT vec_id, embedding, label, $normSql AS nrm FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label, nrm AS q_nrm
              FROM e WHERE vec_id < 10),
        p AS (SELECT query_id, vec_id,
                list_sum(list_transform(range(1, 65),
                  i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
                q_nrm, nrm
              FROM q, e WHERE vec_id <> query_id $cellFilter),
        r AS (SELECT query_id, vec_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dot / sqrt(q_nrm * nrm) DESC, vec_id) AS rank
              FROM p)
        SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
        FROM r WHERE rank <= 5"""

  /** DuckDB replay of one k-means assignment: nearest centroid by
    * exact integer squared distance, ties to the lowest cell id.
    */
  private def kmAssignSql(src: String, cents: String, out: String): String =
    s"""$out AS (
         SELECT vec_id, q, cid AS cell FROM (
           SELECT e.vec_id, e.q, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))), c.cid) AS rn
           FROM $src e, $cents c) WHERE rn = 1)"""

  /** DuckDB replay of one centroid update: per-dim integer sums,
    * sum/count truncated toward zero; empty cells keep their centroid.
    * The division stays EXACT integer arithmetic (HUGEINT `//`, made
    * sign-aware so floor-vs-trunc cannot diverge from Scala's Long
    * division on negative sums) — a double round-trip would cap the
    * bit-exact replay at per-cell per-dim sums of 2^53.
    */
  private def kmUpdateSql(assigned: String, prev: String, out: String): String =
    s"""${out}_s AS (
         SELECT cell, dim.i AS dim, SUM(q[dim.i]) AS s, COUNT(*) AS n
         FROM $assigned, (SELECT unnest(range(1, 65)) AS i) dim
         GROUP BY cell, dim.i),
       $out AS (
         SELECT p.cid, COALESCE(u.c, p.c) AS c
         FROM $prev p LEFT JOIN (
           SELECT cell AS cid,
             list(CAST(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS BIGINT)
                  ORDER BY dim) AS c
           FROM ${out}_s GROUP BY cell) u ON p.cid = u.cid)"""

  /** The kNN-graph build as a reusable CTE chain ending in
    * `knng(vec_id, rank, neighbor_id)` — ll28's oracle body, shared
    * with ll36 so the walk replays the identical maintained graph.
    */
  private val knnGraphCtes: String = {
    val bitsSql = (0 until 8).map(j =>
      s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val dotsSql = (0 until 8).map { j =>
      s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * hv$j[i])) AS d$j"
    }.mkString(", ")
    val hvDefs = (0 until 8).map { j =>
      s"[${hyperplane(j, 64).mkString(", ")}]::DOUBLE[] AS hv$j"
    }.mkString(", ")
    s"""h AS (SELECT $hvDefs),
          d AS (SELECT vec_id, embedding, $normSql AS nrm, $dotsSql
                FROM embeddings, h),
          b AS (SELECT vec_id, embedding, nrm,
                  CAST($bitsSql AS BIGINT) AS bucket FROM d),
          kscored AS (SELECT m.vec_id, n.vec_id AS neighbor_id,
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(m.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)))
                       / sqrt(m.nrm * n.nrm) AS sim
                     FROM b m JOIN b n
                       ON m.bucket = n.bucket AND m.vec_id <> n.vec_id),
          knng AS (SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id
                   FROM (SELECT vec_id, neighbor_id,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, neighbor_id) AS rank
                         FROM kscored)
                   WHERE rank <= 3)"""
  }

  /** The ll36/ll37/ll38 oracle: the 3-hop beam walk over the shared
    * graph CTEs, unrolled hop by hop with the given beam width. One
    * body for all three — ll37 reads GraphStream's streamed stores
    * (fold ≡ rebuild means the walk's answer is identical), ll38
    * widens the beam.
    */
  private def graphWalkOracleOf(beam: Int): String = {
    val simSql = "list_sum(list_transform(range(1, 65), " +
      "i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) " +
      "/ sqrt(q.q_nrm * e.nrm)"
    val hops = (1 to 3).map { i =>
      s"""c$i AS (SELECT query_id, node FROM f${i - 1} UNION
               SELECT f.query_id, s.dst AS node FROM f${i - 1} f
               JOIN sym s ON f.node = s.src),
        s$i AS (SELECT c.query_id, c.node, $simSql AS sim
                FROM c$i c JOIN ev e ON c.node = e.node
                JOIN qv q ON c.query_id = q.query_id),
        f$i AS (SELECT query_id, node FROM (
                  SELECT query_id, node, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY sim DESC, node) AS rn
                  FROM s$i) WHERE rn <= $beam)"""
    }.mkString(",\n        ")
    s"""WITH $knnGraphCtes,
        sym AS (SELECT vec_id AS src, neighbor_id AS dst FROM knng
                UNION
                SELECT neighbor_id AS src, vec_id AS dst FROM knng),
        ev AS (SELECT vec_id AS node, embedding, $normSql AS nrm FROM embeddings),
        qv AS (SELECT vec_id AS query_id, embedding AS q_emb, $normSql AS q_nrm
               FROM embeddings WHERE vec_id < 10),
        en AS (SELECT bucket, MIN(vec_id) AS entry FROM b GROUP BY bucket),
        f0 AS (SELECT q.query_id, e2.entry AS node
               FROM qv q JOIN b qb ON q.query_id = qb.vec_id
               JOIN en e2 ON qb.bucket = e2.bucket),
        $hops
        SELECT query_id, CAST(rn AS BIGINT) AS rank, node AS neighbor_id
        FROM (SELECT query_id, node, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY sim DESC, node) AS rn
              FROM s3 JOIN f3 USING (query_id, node)
              WHERE node <> query_id)
        WHERE rn <= 3"""
  }
  private val graphWalkOracle: String = graphWalkOracleOf(4)

  val oracles: Map[String, String] = Map(
    "ll3_ann_topk" -> annOracle(""),
    // both rankings as CTE'd subqueries of the shared oracle body
    "ev1_ann_recall" ->
      s"""SELECT ex.query_id, COUNT(*) AS k,
            CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
            CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS recall
          FROM (${annOracle("")}) ex
          LEFT JOIN (${annOracle("AND label = q_label")}) ap
            ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
          GROUP BY 1""",
    "ll21_hard_negatives" -> annOracle("AND label <> q_label"),
    "ll4_ann_ivf" -> annOracle("AND label = q_label"),
    // ll28: the ll8/ll17 hyperplane-bucket CTEs + per-vector top-3
    // window with the same (sim DESC, neighbor ASC) tie order — the
    // shared fragment, so ll36's walk replays the identical graph
    "ll28_knn_graph" ->
      s"""WITH $knnGraphCtes
          SELECT vec_id, rank, neighbor_id FROM knng""",
    // ll36: the 3-hop beam walk unrolled hop by hop — each hop's
    // candidate set (previous beam UNION its symmetrized neighbors),
    // exact-cosine scoring, and the top-4 beam window mirror the
    // Spark fold exactly; the final top-3 excludes the query itself
    "ll36_graph_ann" -> graphWalkOracle,
    // ll37: the SAME oracle — GraphStream's fold must land the exact
    // graph the batch build lands (fold ≡ rebuild), and graphWalk is
    // one shared read path; the differential gate proves both at once
    "ll37_graph_ann_streamed" -> graphWalkOracle,
    // ll38: the same unrolled walk at beam width 8
    "ll38_graph_ann_beam8" -> graphWalkOracleOf(8),
    // ev17: ev1's recall harness over the walk vs the brute top-3
    "ev17_graph_recall" ->
      s"""SELECT ex.query_id, COUNT(*) AS k,
            CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
            CAST(SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / COUNT(*) AS recall
          FROM (SELECT query_id, neighbor_id FROM (${annOracle("")})
                WHERE rank <= 3) ex
          LEFT JOIN ($graphWalkOracle) ap
            ON ex.query_id = ap.query_id AND ex.neighbor_id = ap.neighbor_id
          GROUP BY 1""",
    // ll29: the ll26 Lloyd replay, then one medoid per cell via
    // ROW_NUMBER over (distance, vec_id)
    "ll29_diverse_sample" ->
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qe ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qe", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qe", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          scored AS (SELECT e.vec_id, c.cid, list_sum(list_transform(range(1, 65),
                       i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
                     FROM qe e, c2 c),
          af AS (SELECT vec_id, cid AS cell, d FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d, cid) AS rn FROM scored) WHERE rn = 1)
          SELECT cell, vec_id AS medoid_id, CAST(d AS BIGINT) AS medoid_dist, n_members
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                  ORDER BY d, vec_id) AS mrn,
                  COUNT(*) OVER (PARTITION BY cell) AS n_members
                FROM af)
          WHERE mrn = 1""",
    // ll26: both Lloyd iterations + the final assignment replayed over
    // the FULL corpus (c0 = the 8 lowest-id vectors); inertia = the
    // chosen cell's exact integer distance, summed per cell.
    "ll26_kmeans_refine" ->
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qe ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qe", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qe", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          scored AS (SELECT e.vec_id, c.cid, list_sum(list_transform(range(1, 65),
                       i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
                     FROM qe e, c2 c),
          af AS (SELECT vec_id, cid AS cell, d FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d, cid) AS rn FROM scored) WHERE rn = 1)
          SELECT cell, COUNT(*) AS n_members, MIN(vec_id) AS min_vec_id,
                 CAST(SUM(d) AS BIGINT) AS inertia
          FROM af GROUP BY cell""",
    "ll4b_ann_ivf_trained" ->
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          st AS (SELECT GREATEST(1, CAST((COUNT(*) + 1023) // 1024 AS BIGINT)) AS step
                 FROM embeddings),
          qs AS (SELECT qe.* FROM qe
                 WHERE CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                     AS UBIGINT) % (SELECT step FROM st) AS BIGINT) = 0),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qs ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qs", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qs", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          ${kmAssignSql("qe", "c2", "af")},
          e AS (SELECT em.vec_id, em.embedding, $normSql AS nrm, af.cell
                FROM embeddings em JOIN af ON em.vec_id = af.vec_id),
          qq AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm,
                        cell AS q_cell
                 FROM e WHERE vec_id < 10),
          p AS (SELECT query_id, vec_id,
                  list_sum(list_transform(range(1, 65),
                    i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
                  q_nrm, nrm
                FROM qq, e WHERE vec_id <> query_id AND cell = q_cell),
          r AS (SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY dot / sqrt(q_nrm * nrm) DESC, vec_id) AS rank
                FROM p)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
          FROM r WHERE rank <= 5""",
    "ll8_embedding_neardup" -> {
      val bitsSql = (0 until 8).map(j =>
        s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val dotsSql = (0 until 8).map { j =>
        s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * hv$j[i])) AS d$j"
      }.mkString(", ")
      val hvDefs = (0 until 8).map { j =>
        s"[${hyperplane(j, 64).mkString(", ")}]::DOUBLE[] AS hv$j"
      }.mkString(", ")
      s"""WITH h AS (SELECT $hvDefs),
          corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          d AS (SELECT vec_id, embedding, $normSql AS nrm, $dotsSql
                FROM corpus, h),
          b AS (SELECT vec_id, embedding, nrm,
                  CAST($bitsSql AS BIGINT) AS bucket FROM d)
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.bucket AS bucket
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE list_sum(list_transform(range(1, 65),
                  i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
                / sqrt(x.nrm * y.nrm) >= 0.8"""
    },
    "ll11_embedding_outliers" ->
      """WITH qe AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          sums AS (SELECT label, dim.i AS i, SUM(q[dim.i]) AS s, COUNT(*) AS n
                   FROM qe, (SELECT unnest(range(1, 65)) AS i) dim GROUP BY 1, 2),
          cent AS (SELECT label,
                     list(CAST(CASE WHEN s >= 0 THEN s // n
                               ELSE -((-s) // n) END AS BIGINT) ORDER BY i) AS c
                   FROM sums GROUP BY label),
          d AS (SELECT vec_id, e.label,
                  CAST(list_sum(list_transform(range(1, 65),
                    i -> (q[i] - c[i]) * (q[i] - c[i]))) AS BIGINT) AS dist
                FROM qe e JOIN cent ON e.label = cent.label),
          st AS (SELECT label, CAST(SUM(dist) AS BIGINT) AS sd, COUNT(*) AS nl
                 FROM d GROUP BY label)
          SELECT vec_id, d.label AS label, dist,
                 (2 * dist * nl > 3 * sd) AS is_outlier
          FROM d JOIN st ON d.label = st.label""",
    "ll7_ann_lsh_buckets" -> {
      val bitsSql = (0 until 8).map(j =>
        s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val dotsSql = (0 until 8).map { j =>
        val hv = hyperplane(j, 64)
        s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * hv$j[i])) AS d$j"
      }.mkString(", ")
      val hvDefs = (0 until 8).map { j =>
        s"[${hyperplane(j, 64).mkString(", ")}]::DOUBLE[] AS hv$j"
      }.mkString(", ")
      s"""WITH h AS (SELECT $hvDefs),
          d AS (SELECT vec_id, $dotsSql FROM embeddings, h),
          b AS (SELECT vec_id, CAST($bitsSql AS BIGINT) AS bucket FROM d)
          SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
          FROM b GROUP BY bucket"""
    },

    // Full two-stage replay: per-dim range envelope, int8-range codes,
    // integer code-dot candidate ranking (top-20), exact-cosine rerank
    // (top-5) — bit-for-bit the plan ll16 runs.
    "ll16_quantized_ann" ->
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          rngd AS (SELECT dim.i AS i, MIN(q[dim.i]) AS lo,
                     GREATEST(MAX(q[dim.i]) - MIN(q[dim.i]), 1) AS span
                   FROM qe, (SELECT unnest(range(1, 65)) AS i) dim GROUP BY dim.i),
          env AS (SELECT list(lo ORDER BY i) AS lo, list(span ORDER BY i) AS span
                  FROM rngd),
          coded AS (SELECT vec_id,
                      list_transform(range(1, 65),
                        i -> ((q[i] - lo[i]) * 255) // span[i]) AS code
                    FROM qe CROSS JOIN env),
          dqed AS (SELECT vec_id,
                     list_transform(range(1, 65),
                       i -> code[i] * span[i] + lo[i] * 255) AS dq
                   FROM coded CROSS JOIN env),
          dqn AS (SELECT vec_id, dq,
                    list_sum(list_transform(dq, x -> x * x)) AS dqn FROM dqed),
          cand AS (SELECT p.vec_id AS query_id, c.vec_id,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> p.dq[i] * c.dq[i])) AS DOUBLE)
                     / sqrt(CAST(p.dqn AS DOUBLE) * CAST(c.dqn AS DOUBLE)) AS approx
                   FROM dqn p, dqn c
                   WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
          t20 AS (SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY approx DESC, vec_id) AS arank
                    FROM cand) WHERE arank <= 20),
          e AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
          scored AS (SELECT t.query_id, t.vec_id,
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(cv.embedding[i] AS DOUBLE)))
                         / sqrt(qv.nrm * cv.nrm) AS sim
                     FROM t20 t
                     JOIN e cv ON cv.vec_id = t.vec_id
                     JOIN e qv ON qv.vec_id = t.query_id)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
          FROM (SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rank
                FROM scored)
          WHERE rank <= 5""",

    // Full PQ replay: hash-mod sample, per-subspace integer k-means
    // (subspaces exploded as an `s` key so all 8 train in one CTE
    // chain), nibble-code encoding, codebook reconstruction,
    // asymmetric integer coarse ranking (top-20), exact-cosine rerank
    // (top-5) — bit-for-bit the plan ll24 runs.
    "ll24_pq_ann" ->
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          st AS (SELECT GREATEST(1, CAST((COUNT(*) + 1023) // 1024 AS BIGINT)) AS step
                 FROM embeddings),
          qs AS (SELECT qe.* FROM qe
                 WHERE CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                     AS UBIGINT) % (SELECT step FROM st) AS BIGINT) = 0),
          sub AS (SELECT unnest(range(0, 8)) AS s),
          smp AS (SELECT vec_id, sub.s AS s,
                    list_transform(range(1, 9), i -> q[CAST(sub.s * 8 AS BIGINT) + i]) AS v
                  FROM qs, sub),
          c0 AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
                        v AS c
                 FROM smp
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) <= 16),
          a0 AS (SELECT vec_id, s, v, cid AS cell FROM (
                   SELECT e.vec_id, e.s, e.v, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s ORDER BY
                       list_sum(list_transform(range(1, 9),
                         i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cid) AS rn
                   FROM smp e JOIN c0 c ON e.s = c.s) WHERE rn = 1),
          u_s AS (SELECT s, cell, dim.i AS dim, SUM(v[dim.i]) AS sm, COUNT(*) AS n
                  FROM a0, (SELECT unnest(range(1, 9)) AS i) dim
                  GROUP BY s, cell, dim.i),
          c1 AS (SELECT p.s, p.cid, COALESCE(u.c, p.c) AS c
                 FROM c0 p LEFT JOIN (
                   SELECT s, cell AS cid,
                     list(CAST(CASE WHEN sm >= 0 THEN sm // n
                               ELSE -((-sm) // n) END AS BIGINT) ORDER BY dim) AS c
                   FROM u_s GROUP BY s, cell) u ON p.s = u.s AND p.cid = u.cid),
          alls AS (SELECT vec_id, sub.s AS s,
                     list_transform(range(1, 9), i -> q[CAST(sub.s * 8 AS BIGINT) + i]) AS v
                   FROM qe, sub),
          af AS (SELECT vec_id, s, cid AS cell FROM (
                   SELECT e.vec_id, e.s, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s ORDER BY
                       list_sum(list_transform(range(1, 9),
                         i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cid) AS rn
                   FROM alls e JOIN c1 c ON e.s = c.s) WHERE rn = 1),
          dq AS (SELECT af.vec_id, flatten(list(c1.c ORDER BY af.s)) AS dq
                 FROM af JOIN c1 ON af.s = c1.s AND af.cell = c1.cid
                 GROUP BY af.vec_id),
          dqn AS (SELECT vec_id, dq,
                    list_sum(list_transform(dq, x -> x * x)) AS dqn FROM dq),
          qn AS (SELECT vec_id, q,
                   list_sum(list_transform(q, x -> x * x)) AS qn FROM qe),
          probes AS (SELECT vec_id AS query_id, q AS qq, qn
                     FROM qn WHERE vec_id < 10),
          cand AS (SELECT query_id, d.vec_id,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> qq[i] * d.dq[i])) AS DOUBLE)
                     / sqrt(CAST(qn AS DOUBLE) * CAST(d.dqn AS DOUBLE)) AS approx
                   FROM probes, dqn d WHERE d.vec_id <> query_id),
          t20 AS (SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY approx DESC, vec_id) AS arank
                    FROM cand) WHERE arank <= 50),
          e AS (SELECT vec_id, embedding, $normSql AS nrm FROM embeddings),
          scored AS (SELECT t.query_id, t.vec_id,
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(cv.embedding[i] AS DOUBLE)))
                         / sqrt(qv.nrm * cv.nrm) AS sim
                     FROM t20 t
                     JOIN e cv ON cv.vec_id = t.vec_id
                     JOIN e qv ON qv.vec_id = t.query_id)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
          FROM (SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rank
                FROM scored)
          WHERE rank <= 5""",

    // Full IVF-PQ replay: ll4b's sampled coarse trainer (c0..c2 +
    // full assignment af), residuals vs the assigned centroid, ll24's
    // per-subspace PQ trainer over the SAMPLE's residuals (p0/pa0/p1),
    // nibble encoding of corpus residuals, centroid+codebook
    // reconstruction, cell-PRUNED asymmetric coarse ranking (top-50),
    // exact-cosine rerank (top-5) — bit-for-bit the plan ll34 runs.
    "ll34_ivfpq_ann" -> ivfPqAnnSql("", "qe", "embeddings"),
    // same replay with the pruned scan widened to the query's 2
    // nearest coarse cells (the ROW_NUMBER cell ranking mirrors
    // Spark's (dist, cell) struct sort exactly)
    "ll35_ivfpq_nprobe" -> ivfPqAnnSql("", "qe", "embeddings", nprobe = 2)) ++ oraclesTail

  /** The full IVF-PQ oracle replay, parameterized so ev16, ts9's
    * fusion, and ll35 can reuse it: the TRAINER always reads the base
    * `embeddings` sample (the frozen-model contract), while `corpus`
    * names the quantized CTE the full assignment/encode/search runs
    * over, `rerankSrc` the exact-embedding table for the final cosine
    * rerank, `prelude` injects extra CTEs (e.g. a drifted
    * re-embedding) right after the base quantization, and `nprobe`
    * widens the pruned scan to the query's n nearest coarse cells
    * (exact integer centroid distances, ties to the lower cell id —
    * the same order Spark's (dist, cell) struct sort yields).
    */
  private[operators] def ivfPqAnnSql(prelude: String, corpus: String,
                                     rerankSrc: String,
                                     nprobe: Int = 1): String =
      s"""WITH qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),$prelude
          st AS (SELECT GREATEST(1, CAST((COUNT(*) + 1023) // 1024 AS BIGINT)) AS step
                 FROM embeddings),
          qs AS (SELECT qe.* FROM qe
                 WHERE CAST(CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)
                     AS UBIGINT) % (SELECT step FROM st) AS BIGINT) = 0),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qs ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qs", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qs", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          ${kmAssignSql(corpus, "c2", "af")},
          ${kmAssignSql("qs", "c2", "sa")},
          sres AS (SELECT sa.vec_id,
                     list_transform(range(1, 65), i -> sa.q[i] - cv.c[i]) AS q
                   FROM sa JOIN c2 cv ON sa.cell = cv.cid),
          sub AS (SELECT unnest(range(0, 8)) AS s),
          smp AS (SELECT vec_id, sub.s AS s,
                    list_transform(range(1, 9), i -> q[CAST(sub.s * 8 AS BIGINT) + i]) AS v
                  FROM sres, sub),
          p0 AS (SELECT s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS cid,
                        v AS c
                 FROM smp
                 QUALIFY ROW_NUMBER() OVER (PARTITION BY s ORDER BY vec_id) <= 16),
          pa0 AS (SELECT vec_id, s, v, cid AS cell FROM (
                    SELECT e.vec_id, e.s, e.v, c.cid,
                      ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s ORDER BY
                        list_sum(list_transform(range(1, 9),
                          i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cid) AS rn
                    FROM smp e JOIN p0 c ON e.s = c.s) WHERE rn = 1),
          pu_s AS (SELECT s, cell, dim.i AS dim, SUM(v[dim.i]) AS sm, COUNT(*) AS n
                   FROM pa0, (SELECT unnest(range(1, 9)) AS i) dim
                   GROUP BY s, cell, dim.i),
          p1 AS (SELECT p.s, p.cid, COALESCE(u.c, p.c) AS c
                 FROM p0 p LEFT JOIN (
                   SELECT s, cell AS cid,
                     list(CAST(CASE WHEN sm >= 0 THEN sm // n
                               ELSE -((-sm) // n) END AS BIGINT) ORDER BY dim) AS c
                   FROM pu_s GROUP BY s, cell) u ON p.s = u.s AND p.cid = u.cid),
          ares AS (SELECT af.vec_id,
                     list_transform(range(1, 65), i -> af.q[i] - cv.c[i]) AS rq
                   FROM af JOIN c2 cv ON af.cell = cv.cid),
          alls AS (SELECT vec_id, sub.s AS s,
                     list_transform(range(1, 9), i -> rq[CAST(sub.s * 8 AS BIGINT) + i]) AS v
                   FROM ares, sub),
          afpq AS (SELECT vec_id, s, cid AS cell FROM (
                     SELECT e.vec_id, e.s, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s ORDER BY
                         list_sum(list_transform(range(1, 9),
                           i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i]))), c.cid) AS rn
                     FROM alls e JOIN p1 c ON e.s = c.s) WHERE rn = 1),
          dqsub AS (SELECT p.vec_id, p.s,
                      list_transform(range(1, 9),
                        i -> cv.c[CAST(p.s * 8 AS BIGINT) + i] + pc.c[i]) AS part
                    FROM afpq p
                    JOIN af a ON p.vec_id = a.vec_id
                    JOIN c2 cv ON a.cell = cv.cid
                    JOIN p1 pc ON p.s = pc.s AND p.cell = pc.cid),
          dq AS (SELECT vec_id, flatten(list(part ORDER BY s)) AS dq
                 FROM dqsub GROUP BY vec_id),
          dqn AS (SELECT d.vec_id, a.cell, d.dq,
                    list_sum(list_transform(d.dq, x -> x * x)) AS dqn
                  FROM dq d JOIN af a ON d.vec_id = a.vec_id),
          qn AS (SELECT vec_id, q, cell,
                   list_sum(list_transform(q, x -> x * x)) AS qn FROM af),
          ${if (nprobe <= 1)
      """probes AS (SELECT vec_id AS query_id, q AS qq, qn, cell AS q_cell
                     FROM qn WHERE vec_id < 10),
          cand AS (SELECT query_id, d.vec_id,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> qq[i] * d.dq[i])) AS DOUBLE)
                     / sqrt(CAST(p.qn AS DOUBLE) * CAST(d.dqn AS DOUBLE)) AS approx
                   FROM probes p, dqn d
                   WHERE d.vec_id <> p.query_id AND d.cell = p.q_cell),"""
    else
      s"""probes AS (SELECT vec_id AS query_id, q AS qq, qn
                     FROM qn WHERE vec_id < 10),
          qcells AS (SELECT query_id, cell FROM (
                       SELECT p.query_id, c.cid AS cell,
                         ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
                           list_sum(list_transform(range(1, 65),
                             i -> (p.qq[i] - c.c[i]) * (p.qq[i] - c.c[i]))), c.cid) AS rn
                       FROM probes p, c2 c) WHERE rn <= $nprobe),
          cand AS (SELECT p.query_id, d.vec_id,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> qq[i] * d.dq[i])) AS DOUBLE)
                     / sqrt(CAST(p.qn AS DOUBLE) * CAST(d.dqn AS DOUBLE)) AS approx
                   FROM probes p, qcells pc, dqn d
                   WHERE pc.query_id = p.query_id
                     AND d.vec_id <> p.query_id AND d.cell = pc.cell),"""}
          t50 AS (SELECT query_id, vec_id FROM (
                    SELECT query_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY approx DESC, vec_id) AS arank
                    FROM cand) WHERE arank <= 50),
          e AS (SELECT vec_id, embedding, $normSql AS nrm FROM $rerankSrc),
          scored AS (SELECT t.query_id, t.vec_id,
                       list_sum(list_transform(range(1, 65),
                         i -> CAST(qv.embedding[i] AS DOUBLE) * CAST(cv.embedding[i] AS DOUBLE)))
                         / sqrt(qv.nrm * cv.nrm) AS sim
                     FROM t50 t
                     JOIN e cv ON cv.vec_id = t.vec_id
                     JOIN e qv ON qv.vec_id = t.query_id)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
          FROM (SELECT query_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS rank
                FROM scored)
          WHERE rank <= 5"""

  private def oraclesTail: Map[String, String] = Map(
    // ev16: the parameterized IVF-PQ replay with the trainer on BASE
    // embeddings and the encode/search on the cd2-DRIFTED re-embedding
    // (the frozen-model contract), scored against an exact brute-force
    // top-5 on the same drifted corpus; cd2's per-dim moved count and
    // the ppm recall compose into the rebuild verdict
    "ev16_index_rebuild_check" -> {
      val drifted = "CASE WHEN vec_id % 7 = 2 AND i <= 32 " +
        "THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT) " +
        "ELSE embedding[i] END"
      val prelude = s"""
          cur AS (SELECT vec_id,
              list_transform(range(1, 65), i -> $drifted) AS embedding
            FROM embeddings),
          qecur AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM cur),"""
      s"""WITH ann AS (SELECT * FROM (${ivfPqAnnSql(prelude, "qecur", "cur")})),
          cur2 AS (SELECT vec_id,
              list_transform(range(1, 65), i -> $drifted) AS embedding
            FROM embeddings),
          qb AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM embeddings),
          qd AS (SELECT vec_id, list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM cur2),
          e AS (SELECT vec_id, embedding, $normSql AS nrm FROM cur2),
          qv AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
                 FROM e WHERE vec_id < 10),
          p AS (SELECT query_id, vec_id,
                  list_sum(list_transform(range(1, 65),
                    i -> CAST(q_emb[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
                  q_nrm, nrm
                FROM qv, e WHERE vec_id <> query_id),
          ex AS (SELECT query_id, vec_id AS neighbor_id FROM (
                   SELECT query_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY dot / sqrt(q_nrm * nrm) DESC, vec_id) AS rank
                   FROM p) WHERE rank <= 5),
          rec AS (SELECT ex.query_id,
                    CAST(SUM(CASE WHEN ann.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                  FROM ex LEFT JOIN ann
                    ON ex.query_id = ann.query_id
                   AND ex.neighbor_id = ann.neighbor_id
                  GROUP BY ex.query_id),
          drift AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_drifted_dims FROM (
                      SELECT d.i FROM qb b JOIN qd c USING (vec_id),
                        (SELECT unnest(range(1, 65)) AS i) d
                      GROUP BY d.i
                      HAVING SUM(CASE WHEN b.q[d.i] <> c.q[d.i]
                                 THEN 1 ELSE 0 END) > 0)),
          tot AS (SELECT CAST(SUM(n_hit) * 1000000 // (COUNT(*) * 5) AS BIGINT)
                    AS mean_recall_ppm FROM rec)
          SELECT query_id, n_hit,
            CAST(n_hit * 1000000 // 5 AS BIGINT) AS recall_ppm,
            n_drifted_dims, mean_recall_ppm,
            (n_drifted_dims >= 16 OR mean_recall_ppm < 600000) AS rebuild
          FROM rec CROSS JOIN drift CROSS JOIN tot"""
    },
    // Mirrors ll17: same two-crawl corpus and hyperplane buckets as
    // ll8's oracle, lowest-member representative per bucket, exact
    // cosine vs the representative decides the keep verdict.
    // cp3: ll27's CTE chain + the kept-set medoid per cell
    "cp3_embedding_curation" ->
      s"""WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM corpus),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qe ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qe", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qe", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          scored AS (SELECT e.vec_id, c.cid, list_sum(list_transform(range(1, 65),
                       i -> (e.q[i] - c.c[i]) * (e.q[i] - c.c[i]))) AS d
                     FROM qe e, c2 c),
          af AS (SELECT vec_id, cid AS cell, d FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d, cid) AS rn FROM scored) WHERE rn = 1),
          e AS (SELECT c.vec_id, c.embedding, $normSql AS nrm, af.cell, af.d
                FROM corpus c JOIN af ON c.vec_id = af.vec_id),
          reps AS (SELECT cell, MIN(vec_id) AS rep_id FROM e GROUP BY cell),
          rv AS (SELECT r.cell, r.rep_id, m.embedding AS rep_emb, m.nrm AS rep_nrm
                 FROM reps r JOIN e m ON m.vec_id = r.rep_id),
          kt AS (SELECT m.vec_id, m.cell, m.d,
                   (m.vec_id = rv.rep_id OR
                    list_sum(list_transform(range(1, 65),
                      i -> CAST(m.embedding[i] AS DOUBLE) * CAST(rv.rep_emb[i] AS DOUBLE)))
                    / sqrt(m.nrm * rv.rep_nrm) < 0.9) AS kept
                 FROM e m JOIN rv ON m.cell = rv.cell)
          SELECT cell, COUNT(*) AS n_members,
            CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
            arg_min(CASE WHEN kept THEN vec_id END,
              CASE WHEN kept THEN lpad(CAST(d AS VARCHAR), 20, '0') ||
                lpad(CAST(vec_id AS VARCHAR), 20, '0') END) AS medoid_id,
            CAST(arg_min(CASE WHEN kept THEN d END,
              CASE WHEN kept THEN lpad(CAST(d AS VARCHAR), 20, '0') ||
                lpad(CAST(vec_id AS VARCHAR), 20, '0') END) AS BIGINT) AS medoid_dist
          FROM kt GROUP BY cell""",
    // Mirrors ll27: the two-crawl corpus, both Lloyd iterations and
    // the final assignment replayed over the union (ll26's CTE chain
    // on the bigger corpus), then ll17's representative rule per
    // k-means cell.
    "ll27_semdedup_kmeans" ->
      s"""WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          qe AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
            FROM corpus),
          c0 AS (SELECT vec_id AS cid, q AS c FROM qe ORDER BY vec_id LIMIT 8),
          ${kmAssignSql("qe", "c0", "a0")},
          ${kmUpdateSql("a0", "c0", "c1")},
          ${kmAssignSql("qe", "c1", "a1")},
          ${kmUpdateSql("a1", "c1", "c2")},
          ${kmAssignSql("qe", "c2", "af")},
          e AS (SELECT c.vec_id, c.embedding, $normSql AS nrm, af.cell
                FROM corpus c JOIN af ON c.vec_id = af.vec_id),
          reps AS (SELECT cell, MIN(vec_id) AS rep_id FROM e GROUP BY cell),
          rv AS (SELECT r.cell, r.rep_id, m.embedding AS rep_emb, m.nrm AS rep_nrm
                 FROM reps r JOIN e m ON m.vec_id = r.rep_id)
          SELECT m.vec_id, m.cell, rv.rep_id,
            (m.vec_id = rv.rep_id OR
             list_sum(list_transform(range(1, 65),
               i -> CAST(m.embedding[i] AS DOUBLE) * CAST(rv.rep_emb[i] AS DOUBLE)))
             / sqrt(m.nrm * rv.rep_nrm) < 0.9) AS kept
          FROM e m JOIN rv ON m.cell = rv.cell""",
    "ll17_semantic_dedup" -> {
      val bitsSql = (0 until 8).map(j =>
        s"(CASE WHEN d$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val dotsSql = (0 until 8).map { j =>
        s"list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * hv$j[i])) AS d$j"
      }.mkString(", ")
      val hvDefs = (0 until 8).map { j =>
        s"[${hyperplane(j, 64).mkString(", ")}]::DOUBLE[] AS hv$j"
      }.mkString(", ")
      s"""WITH h AS (SELECT $hvDefs),
          corpus AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000,
              list_transform(range(1, 65),
                i -> CASE WHEN i <= 32
                          THEN CAST(CAST(embedding[i] AS DOUBLE) * 1.1 AS FLOAT)
                          ELSE embedding[i] END)
            FROM embeddings),
          d AS (SELECT vec_id, embedding, $normSql AS nrm, $dotsSql
                FROM corpus, h),
          b AS (SELECT vec_id, embedding, nrm,
                  CAST($bitsSql AS BIGINT) AS bucket FROM d),
          reps AS (SELECT bucket, MIN(vec_id) AS rep_id FROM b GROUP BY bucket),
          rv AS (SELECT r.bucket, r.rep_id, m.embedding AS rep_emb, m.nrm AS rep_nrm
                 FROM reps r JOIN b m ON m.vec_id = r.rep_id)
          SELECT m.vec_id, m.bucket, rv.rep_id,
            (m.vec_id = rv.rep_id OR
             list_sum(list_transform(range(1, 65),
               i -> CAST(m.embedding[i] AS DOUBLE) * CAST(rv.rep_emb[i] AS DOUBLE)))
             / sqrt(m.nrm * rv.rep_nrm) < 0.9) AS kept
          FROM b m JOIN rv ON m.bucket = rv.bucket"""
    }
  )
}
