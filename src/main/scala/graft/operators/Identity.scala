package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Identity resolution — connected components over the merge-rule edge
  * list (reference: warehouse/identity/identity.go:79-262, L8: an
  * incremental union-find over rudder_identity_merge_rules producing
  * the rudder_identity_mappings table).
  *
  * Spark-first re-expression: the alternating large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) over the edge DataFrame. Round count is
  * O(log² n) INDEPENDENT of graph diameter — the property that
  * matters for identity graphs, whose anon↔user↔device chains grow
  * arbitrarily long (min-label propagation, the previous engine here,
  * is O(diameter) rounds: a 100k-hop chain means 100k shuffles; this
  * converges on it in 18). Cluster-grade harness:
  *   - merge-property strings are dictionary-encoded to dense longs up
  *     front, so every CC shuffle carries 8-byte keys instead of
  *     strings — the right layout for a 100 TB identity graph — and
  *     the original values are joined back once at the end;
  *   - every round's edge table is materialized to scratch parquet
  *     under the checkpoint dir (write + schema'd read-back): lineage
  *     AND Catalyst plan reset to a fresh scan each round, the plan
  *     runs exactly once, and recovery reads shared storage rather
  *     than replaying the whole iteration after an executor loss;
  *   - convergence is read from the SAME action that materializes the
  *     round: both star operations map min-rooted stars to themselves,
  *     so the edge set is a fixpoint exactly at convergence — detected
  *     by a (count, xor-of-edge-hashes) set signature going stable, no
  *     extra join-and-count job per round.
  * IdentitySpec asserts ≤ 14 rounds on a 1000-hop path and ≤ 4 on a
  * 500-leaf star.
  */
object Identity {

  /** Row bound of every in-driver identity path (see `smallGraphMax`). */
  val SmallGraphMax: Long = 100000L

  /** Connected components over any orderable node type.
    * @param edges two-column DataFrame (src, dst), undirected.
    * @param smallGraphMax edge-count threshold below which the graph
    *   is resolved by an in-driver union-find instead of the
    *   distributed star-contraction — the REFERENCE's identity CC is
    *   exactly this in-process union-find (identity.go:79-262), and
    *   below ~100k edges (a few MB) the multi-round engine pays pure
    *   scheduling/materialization overhead. The threshold is a
    *   planner statistic read from the same canonical edge count the
    *   round sizing uses; pass 0 to force the distributed engine.
    *   Near-dup pair graphs and incremental identity deltas — tiny
    *   next to their corpora — live under it; a full 100 TB identity
    *   graph goes distributed. [[graft.streaming.IdentityStream]]'s
    *   driver fold shares the default ([[SmallGraphMax]]) as its bound
    *   on the batch and on each neighbourhood read.
    * @return ((node, comp) DataFrame in the input value domain where
    *         comp = min reachable node, iterations run — 0 on the
    *         union-find path)
    */
  def connectedComponentsWithStats(edges: DataFrame, maxIter: Int = 30,
                                   smallGraphMax: Long = SmallGraphMax): (DataFrame, Int) = {
    val spark = edges.sparkSession

    // Round materialization: scratch parquet (write + read-back with
    // the writer's schema), NOT Dataset.checkpoint()/persist(). A
    // parquet round-trip truncates BOTH the RDD lineage and the
    // Catalyst plan (the read-back is a fresh LogicalRelation), runs
    // the plan exactly once (eager RDD checkpoint recomputes it for
    // the checkpoint job), survives executor loss on shared storage,
    // and never touches the cache manager — whose dependent-plan
    // rewrites made per-round eager checkpoints here cost 10-30 s on
    // a 240-node graph. The explicit read schema makes an EMPTY edge
    // set round-trippable (no schema inference over zero part files).
    val hconf = spark.sparkContext.hadoopConfiguration
    val scratch = graft.State.checkpointDir(spark) +
      "/cc-scratch-" + java.util.UUID.randomUUID().toString.take(8)
    def materialize(df: DataFrame, name: String): DataFrame = {
      val p = s"$scratch/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.schema(df.schema).parquet(p)
    }
    def rmScratch(name: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(
        if (name.isEmpty) scratch else s"$scratch/$name")
      p.getFileSystem(hconf).delete(p, true); ()
    }

    // The input edge plan is typically expensive (a distinct over the
    // raw event scan, or a verified near-dup join) and feeds several
    // downstream plans here (node dictionary builds, the encode join,
    // the canonicalization) — each a separate action that would
    // recompute it from scratch. Materialize it once.
    val e = edges.toDF("sa", "sb").persist(StorageLevel.MEMORY_AND_DISK)
    // Numeric node ids propagate as-is; everything else (merge-
    // property strings) is dictionary-encoded to longs so every CC
    // shuffle carries 8-byte keys. The ids carry NO order — they come
    // from monotonically_increasing_id on the distinct node set, which
    // costs one hash shuffle and no global sort (a sort-based dense
    // encoding range-partitions every node — needless at any scale,
    // dominant at 100 TB). The value-domain `comp = min(original)`
    // contract is restored at decode time by one min-string aggregate
    // per component. The dictionary is materialized to scratch because
    // the ids are partition-layout-dependent: a lazy cache rebuilt
    // after block loss could re-number nodes mid-run.
    val numericInput = e.schema.fields.forall(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val nodes =
      if (numericInput) null
      else materialize(
        e.select(col("sa").as("s"))
          .union(e.select(col("sb").as("s"))).distinct()
          .withColumn("nid", monotonically_increasing_id() + 1L), "nodes")
    val enc =
      if (numericInput)
        e.select(col("sa").cast("long").as("a"), col("sb").cast("long").as("b"))
      else e
        .join(nodes.withColumnRenamed("s", "sa").withColumnRenamed("nid", "a"), "sa")
        .join(nodes.withColumnRenamed("s", "sb").withColumnRenamed("nid", "b"), "sb")
        .select(col("a"), col("b"))
    // Node domain BEFORE dropping self-loops: a node seen only as
    // (x, x) still owes itself a mapping row.
    val allNodes =
      if (numericInput)
        enc.select(col("a").as("node")).union(enc.select(col("b").as("node"))).distinct()
      else nodes.select(col("nid").as("node"))

    // Canonical undirected form: (a, b) with a > b, self-loops dropped,
    // duplicates collapsed. Both star operations preserve this form.
    val canonical = enc.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()

    // Small-graph probe: ONE bounded job (limit max+1, collect) both
    // decides the engine AND — when the graph is small — already holds
    // the complete canonical edge set for the in-driver union-find.
    // This replaces the former unconditional parquet materialization +
    // count + collect (three jobs and a scratch round-trip) that every
    // CC call paid even for reference-sized graphs; the collect stays
    // planner-bounded because limit caps it at smallGraphMax + 1 rows.
    // The distributed path still materializes the canonical set first
    // (rounds need the lineage cut) and re-counts from the parquet.
    val probe: Array[org.apache.spark.sql.Row] =
      if (smallGraphMax > 0L && smallGraphMax < Int.MaxValue.toLong)
        canonical.limit(smallGraphMax.toInt + 1).collect()
      else null
    val small = probe != null && probe.length <= smallGraphMax

    // Size the per-round shuffles to the graph, not the session: a
    // 10k-edge graph over 32 session partitions runs ~100 near-empty
    // tasks per round; a 100 TB graph keeps full parallelism
    // (~500k edges per partition target).
    var cur: DataFrame = null
    val edgeCount =
      if (small) probe.length.toLong
      else {
        cur = materialize(canonical, "r0")
        cur.count()
      }
    val parts = math.max(2, math.min(
      spark.sparkContext.defaultParallelism * 2,
      (edgeCount * 2 / 500000L).toInt + 1))
    val prevShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)

    // Edge-SET signature: cardinality + xor of per-edge hashes. XOR
    // never overflows (sum would, under ANSI), and distinct() above
    // guarantees set — not multiset — semantics, where xor is a sound
    // fingerprint. Stars are fixpoints of large∘small, so a stable
    // signature IS convergence (collision odds ~2^-64).
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star: every node u links its strictly-larger neighbors to
    // m(u) = min(Γ(u) ∪ {u}). Emitted pairs have a = v > u ≥ m = b.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // small-star: every node a links its (all smaller) neighbors and
    // itself to m(a) = min neighbor. Emitted pairs keep a > b.
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy(col("a")).agg(min(col("b")).as("m"))
      val viaB = edges.join(m, "a").filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
      val viaA = m.select(col("a"), col("m").as("b"))
      viaB.union(viaA).distinct()
    }

    // Every round is parquet-materialized. Measured alternatives on
    // this engine: eager Dataset.checkpoint cost 2-30 s per round
    // (plan re-execution + cache-manager rewrites), and a
    // GraphX-style persist-between-checkpoints cadence was ~1.5x
    // slower end-to-end than plain parquet every round (the
    // persist/unpersist bookkeeping, not the IO, dominates at these
    // sizes; at 100 TB the per-round write is the same linear IO a
    // reliable checkpoint costs anyway, with a one-round recovery
    // window for free).
    var i = 0
    // A failed round must not leave the session running with a
    // graph-sized shuffle-partitions setting or leak per-round scratch
    // parquet — restore/cleanup unconditionally.
    try {
      val stars: DataFrame = if (small) {
        // the reference's own engine shape over the probe's rows,
        // already bounded by smallGraphMax + 1
        import spark.implicits._
        unionFind(probe.iterator.map(r => (r.getLong(0), r.getLong(1)))).toDF("node", "c")
      } else {
        var prevSig = signature(cur)
        var converged = false
        while (!converged && i < maxIter) {
          val next = materialize(smallStar(largeStar(cur)), s"r${i + 1}")
          val sig = signature(next)
          rmScratch(s"r$i") // previous round's files no longer referenced
          cur = next
          converged = sig == prevSig
          prevSig = sig
          i += 1
        }
        // Converged edge set is a forest of min-rooted stars: (member,
        // root). Roots and isolated nodes map to themselves. If maxIter
        // exhausted WITHOUT the signature stabilizing, cur is not
        // guaranteed to be a star forest (a node may carry several
        // labels); collapse to min(label) so the output stays one row
        // per node either way — on the converged path the aggregate is
        // a no-op on already-unique keys.
        if (!converged)
          System.err.println(
            s"[graft] Identity CC: maxIter=$maxIter exhausted without convergence; " +
              "labels collapsed to min per node and may span unmerged components")
        if (converged) cur.select(col("a").as("node"), col("b").as("c"))
        else cur.groupBy(col("a").as("node")).agg(min(col("b")).as("c"))
      }
      val labels = allNodes
        .join(stars, Seq("node"), "left")
        .select(col("node"), coalesce(col("c"), col("node")).as("comp"))
      val decoded =
        if (numericInput) labels
        else {
          // decode AND canonicalize: the internal component id is
          // order-free, so the value-domain label is recomputed as the
          // min original string over each component's members — one
          // groupBy on the mappings (linear, same key as the final join)
          val members = labels.join(nodes.withColumnRenamed("nid", "node"), "node")
          val canon = members.groupBy(col("comp")).agg(min(col("s")).as("comp_s"))
          members.join(canon, "comp")
            .select(col("s").as("node"), col("comp_s").as("comp"))
        }
      // reliable checkpoint, single compute: an eager checkpoint runs
      // the job and then RE-iterates the RDD to write the checkpoint
      // files — pinning the decode plan first serves that second pass
      // from cached blocks instead of re-executing the whole decode
      // (and, through it, the label join) per CC call; the pin is
      // dropped as soon as the checkpoint files exist
      val pinned = decoded.persist(StorageLevel.MEMORY_AND_DISK)
      val out = pinned.checkpoint()
      pinned.unpersist()
      (out, i)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShufflePartitions)
      e.unpersist()
      rmScratch("") // the returned frame is checkpointed; scratch rounds + dict are dead
    }
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 30): DataFrame =
    connectedComponentsWithStats(edges, maxIter)._1

  /** In-driver min-union-find over long edges (self-loops allowed):
    * every NON-root endpoint with the min node of its component. Roots
    * and isolated nodes are absent — they map to themselves. Shared by
    * CC's small-graph path and
    * [[graft.streaming.IdentityStream]]'s driver fold.
    */
  private[graft] def unionFind(edges: Iterator[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(n => (n, find(n)))
  }

  /** Incremental identity resolution — the reference's applyRule/
    * addRules contract (identity.go:79-262): fold a batch of new merge
    * rules into an existing mappings table WITHOUT re-running CC over
    * the whole graph. Only components touched by the new edges are
    * recomputed: each affected member contributes a star edge to its
    * old representative (preserving prior connectivity), the new edges
    * are unioned in, and CC runs on that (small) delta subgraph.
    * Untouched components pass through unchanged — at 100 TB the cost
    * scales with the batch's neighborhood, not the graph.
    *
    * @param mappings existing (node, comp) table; comp = min member.
    * @param newEdges batch of new merge-rule edges (src, dst).
    * @return updated (node, comp) table.
    */
  def addRules(mappings: DataFrame, newEdges: DataFrame): DataFrame = {
    val m = mappings.toDF("node", "comp")
    val e = newEdges.toDF("src", "dst")
    val touched = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val touchedComps = m.join(touched, "node").select(col("comp")).distinct()
    val affected = m.join(touchedComps, "comp") // all members of touched comps
    val starEdges = affected.select(col("node").as("src"), col("comp").as("dst"))
    val delta = connectedComponents(e.union(starEdges)).toDF("node", "comp")
    val untouched = m.join(touchedComps, Seq("comp"), "left_anti")
    untouched.unionByName(delta).select(col("node"), col("comp"))
  }

  /** The MAINTAINED mappings table. The reference materializes
    * rudder_identity_mappings as warehouse storage (identity.go:
    * 79-262) — consumers read the table, they do not re-run CC. This
    * mirrors that within a session for the l8 event-derived graph:
    * resolved once per events version into [[graft.State]] scratch
    * parquet, every reader (l8's rollup, l8c's health histogram) gets a
    * plain scan.
    */
  private def eventMappings(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.State.scratch(s, dir, "idmap", Tables.snapshotVersion(s, dir, "events")) { p =>
      val ev = Tables.events(s, dir)
      val e1 = ev.select((col("user_id") + 100000L).as("src"), (col("user_id") % 37).as("dst"))
      val e2 = ev.select((col("user_id") + 100000L).as("src"), (col("user_id") % 53 + 1000L).as("dst"))
      connectedComponents(e1.union(e2).distinct()).toDF("node", "comp")
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p)
    }

  /** The l8e/l8f chain-island fixture graph: each 25-user island is a
    * path glued through shared device nodes (see l8d's note on why the
    * topology matters for unmerge). Shared so the merge and unmerge
    * stream queries build IDENTICAL edges from their batch selectors.
    */
  private def chainIslandUsers(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("island", expr("user_id DIV 25"))
      .withColumn("pos", expr("user_id % 25"))

  private def chainIslandEdges(u: DataFrame,
                               sel: org.apache.spark.sql.Column): DataFrame =
    u.filter(sel).select((col("user_id") + 100000L).as("src"),
        (col("island") * 1000L + col("pos")).as("dst"))
      .union(u.filter(sel && col("pos") < 24L)
        .select((col("user_id") + 100000L).as("src"),
          (col("island") * 1000L + col("pos") + 1L).as("dst")))
      .distinct()

  val defs: Map[String, Q] = Map(
    // l8: edges derived deterministically from events — each user links
    // to two synthetic device/email hash nodes (%37, %53), chaining
    // users into multi-hop components like real anon/user merge graphs.
    "l8_identity_resolution" -> ((s, dir) => {
      eventMappings(s, dir)
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
    }),

    // l8b: CC over REAL string merge-property edges (the W8
    // rudder_identity_merge_rules shape: anonymousId <-> userId string
    // pairs, idresolution.go:15-141), producing the
    // rudder_identity_mappings rollup per resolved rudder_id.
    // l8c: component-size distribution of the identity graph — the
    // health metric an identity-resolution run reports (a giant
    // component usually means a bad merge rule glued the graph
    // together; reference ops watch exactly this). One extra
    // aggregate pair over the l8 mapping.
    "l8c_component_sizes" -> ((s, dir) => {
      eventMappings(s, dir)
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
    }),

    "l8b_identity_mappings" -> ((s, dir) => {
      val edges = Tables.events(s, dir)
        .select(
          concat(lit("anon_"), (col("user_id") % 37).cast("string")).as("src"),
          concat(lit("user_"), col("user_id").cast("string")).as("dst"))
        .distinct()
      connectedComponents(edges)
        .groupBy(col("comp").as("rudder_id"))
        .agg(count(lit(1)).as("n_properties"), max(col("node")).as("max_property"))
    }),

    // L8D: IDENTITY UNMERGE — the DELETE direction of the incremental
    // engine (applyRule covers incremental ADD): a GDPR regulation
    // (rg1's shape) erases every merge edge of the regulated users
    // (user_id % 97 == 0), which can SPLIT components that were only
    // glued through those users. The incremental contract: only the
    // old components that CONTAIN a regulated node recompute (CC over
    // their surviving edges — nodes orphaned by the deletion drop out
    // of the mapping, exactly what erasure means); every other
    // component carries over untouched from the maintained mapping.
    // At 100 TB the recompute subgraph is the regulated slice of the
    // graph, never the graph — deletion is a PREDICATE (no join), the
    // affected-component split is one mapping join. The graph here is
    // a CHAIN-ISLAND topology (each 25-user island is a path glued
    // through shared device nodes — l8's %37/%53 graph collapses to
    // one giant component, where unmerge has nothing to split):
    // deleting a mid-chain user PROVABLY splits its island in two,
    // while untouched islands carry over from the old mapping. The
    // oracle runs the FULL closure over surviving edges, so the
    // differential gate proves incremental == full recompute, splits
    // included.
    // L8E: STREAMING identity resolution — the maintained mappings
    // store's incremental fold (IdentityStream), the merge-rule-stream
    // shape of the reference's applyRule loop (identity.go:79-262).
    // The l8d chain-island graph arrives as three INTERLEAVED batches
    // (users by pos % 3), so almost every island is assembled ACROSS
    // batch boundaries — each fold re-labels previously-resolved
    // components (the retroactive merge case), writing only the
    // touched neighborhood's delta rows. State then compacts through
    // the LSM tiers before the read. The oracle is the full transitive
    // closure over the UNION of all batches — proving the stream fold
    // equals a from-scratch CC, retro merges and compaction included.
    "l8e_identity_stream" -> ((s, dir) => {
      // the fold runs ONCE per events version (Dedup.streamedState);
      // the per-query cost is then the maintained-mappings READ, the
      // same contract ll18b/ll37/ts9 ship under
      val state = Dedup.streamedState(s, dir, "l8e", "events") { base =>
        val u = chainIslandUsers(s, dir)
        def edgesOf(b: Int) = chainIslandEdges(u, col("pos") % 3 === b)
        (0 to 2).foreach { b =>
          graft.streaming.IdentityStream.processBatch(s, edgesOf(b), base, b.toLong)
        }
        // compacted exactly as the runtime would inside batch 2's
        // callback: the in-flight batch stays uncovered
        graft.streaming.IdentityStream.compactState(s, base,
          targetFiles = 1, excludeBatchId = 2L)
      }
      graft.streaming.IdentityStream.readMappings(s, state)
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
    }),

    // L8F: STREAMING identity UNMERGE — the regulation direction of
    // the maintained-mappings stream (IdentityStream.processUnmerge,
    // l8d's contract at stream grain): the chain-island graph arrives
    // as two interleaved merge batches, then a regulation batch erases
    // the %97 users — their islands recompute from SURVIVING ledger
    // edges (splitting where the erased user was the chain's glue),
    // the regulated nodes and any orphaned devices tombstone out, and
    // untouched islands carry over. State LSM-compacts (physically
    // purging erased-incident ledger edges) before the read. Oracle =
    // the full closure over surviving edges — the fold's carry/split/
    // tombstone decomposition must land exactly on a from-scratch
    // recompute.
    "l8f_identity_unmerge_stream" -> ((s, dir) => {
      // same maintained-state convention as l8e: fold once per events
      // version, read per query
      val state = Dedup.streamedState(s, dir, "l8f", "events") { base =>
        val u = chainIslandUsers(s, dir)
        def edgesOf(b: Int) = chainIslandEdges(u, col("pos") % 2 === b)
        (0 to 1).foreach { b =>
          graft.streaming.IdentityStream.processBatch(s, edgesOf(b), base, b.toLong)
        }
        val reg = u.filter(col("user_id") % 97 === 0)
          .select((col("user_id") + 100000L).as("node"))
        graft.streaming.IdentityStream.processUnmerge(s, reg, base, 2L)
        // every batch is complete here (driver-driven, nothing in
        // flight), so compact WITHOUT an exclusion: the erased ledger is
        // visible to the fold and the physical edge purge actually runs
        graft.streaming.IdentityStream.compactState(s, base, targetFiles = 1)
      }
      graft.streaming.IdentityStream.readMappings(s, state)
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
    }),

    "l8d_identity_unmerge" -> ((s, dir) => {
      val u = Tables.events(s, dir).select(col("user_id")).distinct()
        .withColumn("island", expr("user_id DIV 25"))
        .withColumn("pos", expr("user_id % 25"))
      // user u links its own device slot and (mid-island) the next
      // slot — a path of ≤25 users per island
      val edges = u.select((col("user_id") + 100000L).as("src"),
          (col("island") * 1000L + col("pos")).as("dst"))
        .union(u.filter(col("pos") < 24L)
          .select((col("user_id") + 100000L).as("src"),
            (col("island") * 1000L + col("pos") + 1L).as("dst")))
        .distinct()
      val old = connectedComponents(edges).toDF("node", "comp") // maintained table
      val delComps = old
        .filter(col("node") >= 100000L && (col("node") - 100000L) % 97 === 0)
        .select(col("comp")).distinct()
      val kept = edges.filter((col("src") - 100000L) % 97 =!= 0)
      val affectedEdges = kept
        .join(old.select(col("node").as("src"), col("comp").as("oldc")), "src")
        .join(delComps.select(col("comp").as("oldc")), "oldc")
        .select(col("src"), col("dst"))
      val recomputed = connectedComponents(affectedEdges).toDF("node", "comp")
        .withColumn("recomputed", lit(true))
      val carried = old
        .join(delComps.select(col("comp").as("c2")),
          col("comp") === col("c2"), "left_anti")
        .withColumn("recomputed", lit(false))
      carried.unionByName(recomputed)
        .groupBy(col("comp"), col("recomputed"))
        .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
    })
  )

  val oracles: Map[String, String] = Map(
    // Transitive closure via recursive CTE, then component = min
    // reachable node (including self); same grouping as the Spark side.
    "l8_identity_resolution" ->
      """WITH RECURSIVE
         base_edges AS (
           SELECT DISTINCT user_id + 100000 AS src, user_id % 37 AS dst FROM events
           UNION
           SELECT DISTINCT user_id + 100000 AS src, user_id % 53 + 1000 AS dst FROM events),
         sym AS (SELECT src AS a, dst AS b FROM base_edges
                 UNION SELECT dst AS a, src AS b FROM base_edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
         SELECT comp, COUNT(*) AS n_nodes, MAX(node) AS max_node
         FROM labels GROUP BY comp""",
    "l8c_component_sizes" ->
      """WITH RECURSIVE
         base_edges AS (
           SELECT DISTINCT user_id + 100000 AS src, user_id % 37 AS dst FROM events
           UNION
           SELECT DISTINCT user_id + 100000 AS src, user_id % 53 + 1000 AS dst FROM events),
         sym AS (SELECT src AS a, dst AS b FROM base_edges
                 UNION SELECT dst AS a, src AS b FROM base_edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
         sizes AS (SELECT comp, COUNT(*) AS sz FROM labels GROUP BY comp)
         SELECT sz AS component_size, COUNT(*) AS n_components
         FROM sizes GROUP BY sz""",
    "l8b_identity_mappings" ->
      """WITH RECURSIVE
         base_edges AS (
           SELECT DISTINCT 'anon_' || CAST(user_id % 37 AS VARCHAR) AS src,
                           'user_' || CAST(user_id AS VARCHAR) AS dst
           FROM events),
         sym AS (SELECT src AS a, dst AS b FROM base_edges
                 UNION SELECT dst AS a, src AS b FROM base_edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
         SELECT comp AS rudder_id, COUNT(*) AS n_properties, MAX(node) AS max_property
         FROM labels GROUP BY comp""",
    // full closure over the UNION of the three merge-rule batches —
    // the stream fold must land exactly here
    "l8e_identity_stream" ->
      """WITH RECURSIVE
         u AS (SELECT DISTINCT user_id, user_id // 25 AS island,
                 user_id % 25 AS pos
               FROM events),
         base_edges AS (
           SELECT user_id + 100000 AS src, island * 1000 + pos AS dst FROM u
           UNION
           SELECT user_id + 100000 AS src, island * 1000 + pos + 1 AS dst
           FROM u WHERE pos < 24),
         sym AS (SELECT src AS a, dst AS b FROM base_edges
                 UNION SELECT dst AS a, src AS b FROM base_edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
         SELECT comp, COUNT(*) AS n_nodes, MAX(node) AS max_node
         FROM labels GROUP BY comp""",
    // full closure over the edges SURVIVING the erasure — the streamed
    // carry/split/tombstone fold must land exactly here
    "l8f_identity_unmerge_stream" ->
      """WITH RECURSIVE
         u AS (SELECT DISTINCT user_id, user_id // 25 AS island,
                 user_id % 25 AS pos
               FROM events),
         base_edges AS (
           SELECT user_id + 100000 AS src, island * 1000 + pos AS dst FROM u
           UNION
           SELECT user_id + 100000 AS src, island * 1000 + pos + 1 AS dst
           FROM u WHERE pos < 24),
         kept AS (SELECT * FROM base_edges WHERE (src - 100000) % 97 <> 0),
         sym AS (SELECT src AS a, dst AS b FROM kept
                 UNION SELECT dst AS a, src AS b FROM kept),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
         SELECT comp, COUNT(*) AS n_nodes, MAX(node) AS max_node
         FROM labels GROUP BY comp""",
    // the oracle is the FULL closure over surviving edges — proving
    // the engine's carry/recompute split equals a full recompute; the
    // recomputed flag derives from the BEFORE closure (old comp holds
    // a regulated node)
    "l8d_identity_unmerge" ->
      """WITH RECURSIVE
         u AS (SELECT DISTINCT user_id, user_id // 25 AS island,
                 user_id % 25 AS pos
               FROM events),
         base_edges AS (
           SELECT user_id + 100000 AS src, island * 1000 + pos AS dst FROM u
           UNION
           SELECT user_id + 100000 AS src, island * 1000 + pos + 1 AS dst
           FROM u WHERE pos < 24),
         sym AS (SELECT src AS a, dst AS b FROM base_edges
                 UNION SELECT dst AS a, src AS b FROM base_edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         labels AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a),
         delc AS (SELECT DISTINCT comp FROM labels
                  WHERE node >= 100000 AND (node - 100000) % 97 = 0),
         kept AS (SELECT * FROM base_edges WHERE (src - 100000) % 97 <> 0),
         sym2 AS (SELECT src AS a, dst AS b FROM kept
                  UNION SELECT dst AS a, src AS b FROM kept),
         reach2(a, b) AS (
           SELECT a, b FROM sym2
           UNION
           SELECT r.a, s.b FROM reach2 r JOIN sym2 s ON r.b = s.a),
         labels2 AS (
           SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach2 GROUP BY a),
         flagged AS (
           SELECT l2.node, l2.comp,
             (l.comp IN (SELECT comp FROM delc)) AS recomputed
           FROM labels2 l2 JOIN labels l ON l2.node = l.node)
         SELECT comp, recomputed, COUNT(*) AS n_nodes, MAX(node) AS max_node
         FROM flagged GROUP BY comp, recomputed"""
  )
}
