package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Overlap

/** Connected components over a pair graph by iterated min-label
  * propagation — the transitive-closure step a near-dup dedup pipeline
  * runs AFTER candidate pairs are verified (q86-style), turning direct
  * pairs into whole duplicate CLUSTERS (q87's one-hop keeper is the
  * cheaper, weaker decision).
  *
  * Each round every node takes the minimum label among itself and its
  * direct neighbors; after round R every node within graph distance R
  * of its component's minimum carries that minimum. Two drivers:
  *
  *  - [[contractComponents]] — the PRODUCTION path ([[clustersWithSize]]
  *    default, used by q94/q125 and by `tools/ScaleCheck`, removed
  *    after 7154dcb): quotient-graph contraction with path halving,
  *    O(log diameter) rounds, loud failure past the round cap.
  *  - [[minLabelFixpoint]] — plain propagation iterated until a round
  *    changes zero labels: linear in diameter, kept as the
  *    independently-implemented cross-check the specs compare the
  *    contraction against.
  *  - [[minLabelRounds]] — the declared-round twin the DuckDB oracle
  *    unrolls verbatim. CurationSpec asserts production == unrolled-3 on
  *    the documents corpus (so q94's 3-round oracle SQL stays a valid
  *    gate) and that both full-closure drivers resolve chains that 3
  *    rounds provably cannot; q125's oracle is a recursive closure
  *    instead, valid at any diameter.
  *
  * Scale shape: each round is one shuffle of the (symmetrised) edge list
  * joined to the current labels plus a min-aggregation — all
  * hash-partitioned by node id, nothing driver-side, edges never
  * materialise beyond the verified pair set. Near-dup graphs are unions
  * of near-cliques (diameter 1–3) where either driver runs 2–5 rounds;
  * for long-chain graphs (the q125 cosine graph measures diameter 12)
  * contraction's O(log d) wins, which is why it is the production
  * default.
  */
object Components {

  /** Hard cap for [[minLabelFixpoint]]: far above any plausible near-dup
    * graph diameter, low enough that a buggy upstream edge feed fails in
    * minutes, not days.
    */
  val MaxFixpointRounds = 64

  /** Persist + materialise a round frame REBASED onto its computed RDD
    * (a fresh LogicalRDD plan): without the rebase every round's plan
    * embeds the previous round's 2–4 times, so the logical tree grows
    * exponentially with rounds — analysis and AQE plan stringification
    * then dominate (and OOM the driver) long before the data does. The
    * data is computed exactly once (through the cache); at cluster
    * scale the same role is played by reliable checkpointing every ~10
    * rounds, which additionally truncates the RDD lineage for fault
    * tolerance.
    */
  private[ops] def mat(df: DataFrame): DataFrame = matCount(df)._1

  /** [[mat]] returning the materialising count too — loops that need the
    * row count of the frame they just materialised (contraction's
    * edge-count convergence probe, fixpoint's changed-count) read it off
    * the SAME action instead of paying a second count job per round.
    */
  private[ops] def matCount(df: DataFrame): (DataFrame, Long) = {
    val out = df.sparkSession.createDataFrame(df.rdd, df.schema).persist()
    // persist() registers with the CacheManager BEFORE the materialising
    // count — if the count fails (transient executor loss), drop the
    // entry rather than leak it in a long-lived job server.
    val n =
      try out.count()
      catch { case t: Throwable => out.unpersist(): Unit; throw t }
    (out, n)
  }

  /** Tracks the round frames a driver currently holds persisted, so a
    * Spark action failing mid-loop (transient executor loss in a
    * long-lived job server) releases every intermediate instead of
    * leaking corpus-sized cache entries until the session dies. Success
    * paths still unpersist eagerly per round (dropping frames from the
    * tracker); the tracker only pays on the exceptional exit.
    */
  private[ops] final class LiveFrames {
    // registrations synchronize: contraction materialises two round
    // frames CONCURRENTLY ([[Overlap]]), so the tracker must admit two
    // threads (IdentityHashMap alone is not thread-safe)
    private val live = new java.util.IdentityHashMap[DataFrame, Unit]()
    def mat(df: DataFrame): DataFrame = {
      val m = Components.mat(df); live.synchronized(live.put(m, ())); m
    }
    def matCount(df: DataFrame): (DataFrame, Long) = {
      val mc = Components.matCount(df); live.synchronized(live.put(mc._1, ())); mc
    }
    def track(df: DataFrame): DataFrame = { live.synchronized(live.put(df, ())); df }
    def drop(df: DataFrame): Unit =
      if (df ne null) { df.unpersist(): Unit; live.synchronized(live.remove(df)): Unit }
    /** Keep `df` persisted but stop tracking it (the caller now owns it). */
    def handOff(df: DataFrame): DataFrame = { live.synchronized(live.remove(df)): Unit; df }
    def releaseAll(): Unit = live.synchronized {
      live.keySet.forEach(df => df.unpersist(): Unit)
      live.clear()
    }
  }

  /** Run `body` with a [[LiveFrames]] tracker; any throw releases every
    * still-tracked frame before propagating.
    */
  private[ops] def withLive[A](body: LiveFrames => A): A = {
    val lf = new LiveFrames
    try body(lf)
    catch { case t: Throwable => lf.releaseAll(); throw t }
  }

  /** One propagation round. Returns a PERSISTED, materialised frame with
    * columns (id, __old, cluster) where __old is the incoming label —
    * kept so the caller can count changes without a second join. Labels
    * only ever decrease, so changed == (cluster < __old).
    */
  private def round1(sym: DataFrame, labels: DataFrame): DataFrame =
    mat(round1Lazy(sym, labels))

  /** The lazy round frame — [[minLabelFixpoint]] materialises it through
    * its OWN changed-count action (one job per round instead of a
    * materialising count followed by a changed count).
    */
  private def round1Lazy(sym: DataFrame, labels: DataFrame): DataFrame = {
    val nbMin = sym
      .join(labels.select(col("id").as("b"), col("cluster").as("__nb")), Seq("b"))
      .groupBy(col("a").as("id"))
      .agg(min(col("__nb")).as("__nbmin"))
    labels.join(nbMin, Seq("id"), "left")
      .select(col("id"), col("cluster").as("__old"),
        least(col("cluster"), coalesce(col("__nbmin"), col("cluster")))
          .as("cluster"))
  }

  /** Symmetrised, persisted, materialised edge list. The edges are
    * referenced once per round — without a persist the (possibly
    * expensive) upstream pair pipeline executes once per round.
    * Iterative graph algorithms cache their edges (GraphX does the same).
    */
  private def symEdges(edges: DataFrame): DataFrame =
    mat(edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b"))))

  /** Re-cache the final round as a plain (id, cluster) frame and drop
    * the 3-col round cache, so the frame handed to the caller IS the
    * persisted one — `Dataset.unpersist` only drops a cache whose plan
    * sameResult-matches the dataset itself, so returning a projection
    * *over* the cache would make [[release]] a silent no-op (the r7
    * regression). The extra pass is a scan of the small cached labels,
    * not a recompute.
    */
  private def finalizeLabels(lastRound: DataFrame): DataFrame = {
    val out = mat(lastRound.select(col("id"), col("cluster")))
    lastRound.unpersist(): Unit
    out
  }

  /** `edges` must have columns (`a`, `b`) with one row per undirected
    * edge (either orientation); `nodes` one row per node id in column
    * `id`. Returns (id, cluster) where cluster = min node id within
    * `rounds` hops along edges — the declared-round oracle twin; use
    * [[minLabelFixpoint]] when the answer must be the true components.
    *
    * Cache ownership: each invocation is self-contained. The edge list
    * and every intermediate round are persisted only while the loop
    * runs and unpersisted before returning; the RETURNED frame is
    * itself the sole surviving cache entry (one (id, cluster) row per
    * node — small), owned by the caller. Call [[release]] on exactly
    * the returned frame when done; OpsSpec asserts the CacheManager is
    * empty afterwards. Concurrent invocations do not interact.
    */
  def minLabelRounds(edges: DataFrame, nodes: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    withLive { lf =>
      val sym = lf.track(symEdges(edges))
      // Each round references the previous labels frame TWICE (neighbor
      // lookup + self), so an unpersisted chain re-executes round k
      // 2^(rounds-k) times. Persist per round, materialise, drop the
      // previous round — the standard iterative-dataflow shape.
      var labels = nodes.select(col("id"), col("id").as("cluster"))
      var prevRound: DataFrame = null
      for (_ <- 1 to rounds) {
        val next = lf.track(round1(sym, labels))
        lf.drop(prevRound)
        prevRound = next
        labels = next.select(col("id"), col("cluster"))
      }
      // The final labels are re-cached as the returned frame, so later
      // actions on it never re-read sym — safe to drop the edge cache now.
      lf.drop(sym)
      lf.handOff(finalizeLabels(prevRound))
    }
  }

  /** True connected components: min-label propagation iterated until a
    * round changes ZERO labels. The convergence probe is one count on
    * the round frame that is already cached for the next iteration, so
    * detection costs no extra shuffle. Converges in (component diameter)
    * rounds; throws past `maxRounds` rather than returning a silently
    * under-merged clustering. Same cache ownership contract as
    * [[minLabelRounds]].
    */
  def minLabelFixpoint(edges: DataFrame, nodes: DataFrame,
                       maxRounds: Int = MaxFixpointRounds): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    withLive { lf =>
      val sym = lf.track(symEdges(edges))
      var labels = nodes.select(col("id"), col("id").as("cluster"))
      var prevRound: DataFrame = null
      var changed = 1L
      var r = 0
      while (changed > 0L) {
        r += 1
        if (r > maxRounds)
          // withLive releases sym + prevRound on the way out
          throw new IllegalStateException(
            s"component labels still changing after $maxRounds rounds — " +
              "graph diameter exceeds the cap; raise maxRounds or switch " +
              "to star-contraction")
        // persist the rebased round frame and materialise it THROUGH the
        // changed-count action: the filter scans (and caches) every
        // partition, so one job serves both the materialisation and the
        // convergence probe (formerly a count + a second filtered count)
        val lazyNext = round1Lazy(sym, labels)
        val next = lf.track(lazyNext.sparkSession
          .createDataFrame(lazyNext.rdd, lazyNext.schema).persist())
        changed =
          try next.filter(col("cluster") < col("__old")).count()
          catch { case t: Throwable => lf.drop(next); throw t }
        lf.drop(prevRound)
        prevRound = next
        labels = next.select(col("id"), col("cluster"))
      }
      lf.drop(sym)
      lf.handOff(finalizeLabels(prevRound))
    }
  }

  /** TRUE connected components by CONTRACTION — min-label over the
    * shrinking QUOTIENT graph with path halving, converging in O(log d)
    * rounds where [[minLabelFixpoint]] needs d (component diameter):
    *
    *  - each round computes, per current cluster, the minimum over
    *    itself and its quotient-neighbors (`f`), then composes it with
    *    itself (`g = f∘f`, pointer jumping — a chain halves per round);
    *  - node labels and the quotient edge set are rewritten through `g`;
    *    merged clusters collapse, intra-cluster edges become self-loops
    *    and are dropped, so the edge frame SHRINKS geometrically;
    *  - converged when the quotient has no edges left — every component
    *    is one cluster labeled by its minimum node id (merges only ever
    *    decrease labels).
    *
    * This is the production path for chain-shaped duplicate graphs
    * (measured: the q125 cosine graph has diameter 12 at sf0.1 — 13
    * propagation rounds flat vs ~5 contracted). Same cache ownership
    * contract as [[minLabelRounds]]; OpsSpec proves release() leaves the
    * CacheManager empty, CurationSpec proves equality with
    * [[minLabelFixpoint]] and with an in-memory union-find ground truth.
    */
  def contractComponents(edges: DataFrame, nodes: DataFrame,
                         maxRounds: Int = MaxFixpointRounds): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    withLive { lf =>
      // the label seed and the quotient-edge seed are independent reads
      // of the inputs — materialise them concurrently (§2.6); the
      // materialising count doubles as round 0's convergence probe
      // (formerly a second count job over the fresh cache)
      val (labels0, qe0) = Overlap(
        lf.mat(nodes.select(col("id"), col("id").as("cluster"))),
        lf.matCount(edges
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct()))
      var labels = labels0
      var qe = qe0._1
      var edgeCount = qe0._2
      var r = 0
      while (edgeCount > 0L) {
        r += 1
        if (r > maxRounds)
          // withLive releases qe + labels (+ round frames) on the way out
          throw new IllegalStateException(
            s"quotient graph still has $edgeCount edges after $maxRounds " +
              "contraction rounds — raise maxRounds")
        val sym = qe.select(col("a"), col("b"))
          .unionAll(qe.select(col("b").as("a"), col("a").as("b")))
        // f: cluster -> min(cluster, min neighbor); every cluster with an
        // incident edge appears (isolated clusters keep their label via
        // the left joins below). Not materialised: f appears twice in g's
        // self-join, but both occurrences share one aggregation exchange
        // (ReuseExchange), so g's own job computes the agg once — a
        // per-round persist+count job bought nothing.
        val f = sym.groupBy(col("a").as("c")).agg(min(col("b")).as("m"))
          .select(col("c"), least(col("c"), col("m")).as("f"))
        // g = f∘f: path halving — follow the merge target's own target
        val g = lf.mat(f.as("x")
          .join(f.select(col("c").as("fc"), col("f").as("ff")).as("y"),
            col("x.f") === col("fc"), "left")
          .select(col("x.c").as("c"), coalesce(col("ff"), col("x.f")).as("g")))
        // the label rewrite and the quotient-edge rewrite both read only
        // the materialised g — two independent actions, run concurrently
        // (§2.6); the edge side's materialise + convergence probe stay
        // fused in ONE action (matCount)
        val (newLabels, newQeN) = Overlap(
          lf.mat(labels
            .join(g, labels("cluster") === g("c"), "left")
            .select(labels("id"),
              coalesce(col("g"), labels("cluster")).as("cluster"))),
          lf.matCount(qe
            .join(g.select(col("c").as("a"), col("g").as("ga")), Seq("a"), "left")
            .join(g.select(col("c").as("b"), col("g").as("gb")), Seq("b"), "left")
            .select(coalesce(col("ga"), col("a")).as("na"),
              coalesce(col("gb"), col("b")).as("nb"))
            .select(least(col("na"), col("nb")).as("a"),
              greatest(col("na"), col("nb")).as("b"))
            .filter(col("a") =!= col("b")).distinct()))
        edgeCount = newQeN._2
        lf.drop(qe)
        lf.drop(labels)
        lf.drop(g)
        qe = newQeN._1
        labels = newLabels
      }
      lf.drop(qe)
      lf.handOff(labels)
    }
  }

  /** Drop the cache backing a frame returned by [[minLabelRounds]] /
    * [[minLabelFixpoint]] / [[contractComponents]] / [[clustersWithSize]]
    * once the caller is done with it. Must be called on EXACTLY the
    * returned frame (unpersist matches the dataset's own plan); derived
    * projections won't release.
    */
  def release(labels: DataFrame): Unit = labels.unpersist(): Unit

  /** Labels plus the per-cluster size — the summary a dedup report
    * ships (every member knows its cluster and how many docs it
    * collapses with). `rounds` > 0 pins the declared-round twin (oracle
    * unrolling); `rounds` <= 0 (default) runs [[contractComponents]],
    * the production path (true components in O(log diameter) rounds).
    * Same cache ownership contract: the returned frame is the one
    * persisted entry (the inner labels cache is released before
    * returning); callers hand it to [[release]] when done.
    */
  def clustersWithSize(edges: DataFrame, nodes: DataFrame,
                       rounds: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels =
      if (rounds > 0) minLabelRounds(edges, nodes, rounds)
      else contractComponents(edges, nodes)
    val out = labels.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
      .persist()
    try out.count(): Unit
    catch { case t: Throwable =>
      out.unpersist(): Unit; release(labels); throw t
    }
    release(labels)
    out
  }

  /** The dedup APPLY over a verified pair graph: TRUE duplicate clusters
    * ([[clustersWithSize]] over `edges(a, b)` and `nodes(id)`), keeper =
    * each cluster's minimum id, the keepers' `payload` rows (joined on
    * `key`) materialised to parquet under a per-application scratch
    * directory named `scratchName`, and the kept flags read BACK from
    * that artifact — layout must never change decisions (the q127 gate).
    * Returns (`key`, cluster, cluster_size, kept) ordered by `key`; the
    * clusters stay cached in the caller's CacheScope. Every dedup apply
    * verb shares it: media (q166/q180/q181) and text (q191/q192).
    */
  def applyDedup(edges: DataFrame, nodes: DataFrame, payload: DataFrame,
      key: String, scratchName: String): DataFrame = {
    val spark = payload.sparkSession
    val cs = graft.core.CacheScope.adopt(clustersWithSize(edges, nodes))
    val out = graft.core.Scratch.deleteOnExit(
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft-dedup",
        s"${scratchName}_${spark.sparkContext.applicationId}").toString)
    payload.join(cs.filter(col("id") === col("cluster")).select(col("id").as(key)),
        Seq(key))
      .write.mode("overwrite").parquet(out)
    val kept = spark.read.parquet(out)
      .select(col(key), lit(true).as("kept"))
    cs.select(col("id").as(key), col("cluster"), col("cluster_size"))
      .join(kept, Seq(key), "left")
      .select(col(key), col("cluster"), col("cluster_size"),
        coalesce(col("kept"), lit(false)).as("kept"))
      .orderBy(col(key).asc_nulls_first)
  }
}
