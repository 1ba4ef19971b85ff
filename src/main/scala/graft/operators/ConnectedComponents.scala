package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list, as iterative
  * DataFrame min-label propagation (no GraphFrames, no RDDs).
  *
  * Replaces the reference's in-memory BFS (`recap/dedup/cluster.py:73-91`).
  * Labels are the vertex keys themselves (here: 128-bit uid structs — unique
  * by input contract, so collision-free at any scale); each iteration every
  * vertex takes the min of its own label and its neighbors' labels.
  * Converges in O(max component diameter) rounds — dedup components are
  * near-cliques (verified-pair subgraphs of near-identical docs), so this is
  * 2-3 rounds in practice.
  *
  * Cost model: ONE job per round (round-6 barrier cut). The round is a
  * join + groupBy materialized by `localCheckpoint` (which also truncates
  * lineage so plan size stays constant); the vertex's previous label rides
  * the aggregation as a second min(), and the convergence check rides the
  * SAME job as an accumulator bumped by a row-level changed flag — no
  * separate check job, and round 1 gets a convergence check for free (a
  * diameter-1 edge set finishes in one round). (A `Dataset.observe`-based
  * single-job variant was measured and rejected earlier: observed metrics
  * arrive via the async listener bus, and under high-parallelism AQE load
  * the completion event can be delayed/dropped — each round then stalls on
  * a timeout. Accumulator merges are synchronous with job completion, and
  * task retries can only overcount — an extra round — never produce a
  * false zero.)
  *
  * @param edges DataFrame with columns (src, dst) — one row per undirected
  *              edge, either direction.
  * @param vertices DataFrame with column (id) — all vertices (isolated ones
  *                 come out as their own singleton component). Need NOT be
  *                 distinct: it only feeds round 1's aggregation, where
  *                 duplicates are merged by the groupBy for free (rounds
  *                 2+ join against groupBy outputs, which are distinct by
  *                 construction — the d² message blow-up a duplicated
  *                 vertex used to cause cannot occur).
  * @return DataFrame (id, component) where component = min vertex key of the
  *         component under the key's natural ordering.
  */
object ConnectedComponents {

  def run(spark: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxIterations: Int = 50, verbose: Boolean = false): DataFrame = {
    // symmetrize once; cache for reuse across iterations. NOT deduplicated:
    // a duplicate edge only sends a duplicate message into a min()
    // aggregation — harmless — while a distinct() here costs a full extra
    // shuffle of the edge list every run (measured as a fixed ~2 s barrier
    // at bench scale, pure overhead at any scale).
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = vertices.select(col("id"), col("id").as("component"))
    var iter = 0
    var converged = false
    // the newest checkpoint, whose blocks the next round reads; freed once
    // that round has materialized its own (the hop-1 labels in round 1)
    var prevChk: DataFrame = null
    while (!converged && iter < maxIterations) {
      // Convergence check rides the round job itself (round-6 barrier cut):
      // a tiny non-deterministic UDF bumps an accumulator for every row
      // whose label changed while the checkpoint materializes the round, so
      // the old job-2 `limit(1)` existence scan disappears — one job per
      // round instead of two, and round 1 gets a free convergence check it
      // previously had to skip (a diameter-1 component set now finishes in
      // ONE round). Accumulator semantics are safe in the conservative
      // direction: a retried/duplicated task can only overcount (an extra
      // round), never undercount to a false zero, because `value` is read
      // only after the eager checkpoint's job has processed every
      // successful task's updates on the driver. (A `Dataset.observe`
      // variant was measured and rejected earlier — its metrics arrive on
      // the ASYNC listener bus and can stall a round; accumulator merges
      // are synchronous with job completion.)
      val changedAcc = spark.sparkContext.longAccumulator(s"cc-changed-$iter")
      val bumpChanged = udf { c: Boolean =>
        if (c) changedAcc.add(1L)
        c
      }.asNondeterministic() // keep the optimizer from eliding the call
      // neighbor labels flow along edges; vertex keeps min(self, neighbors).
      // `own` marks the vertex's current label so the same aggregation also
      // yields the previous label for the convergence check.
      //
      // Round 1 fuses a SECOND hop into the same checkpointed job: dedup
      // components are near-cliques, so two hops usually reach the
      // component minimum outright — one fewer round barrier than
      // single-hop. Round 1's changed count compares hop-2 against hop-1
      // labels (base IS the hop-1 state): zero means the propagation step
      // has a fixed point, which is exactly convergence.
      //
      // Hop 1 needs NO join: the initial label of a vertex is its own id,
      // so the message dst receives from src is just src itself —
      // `sym.select(dst, src)` IS the hop-1 message stream. The groupBy
      // both aggregates and deduplicates, which also makes a distinct()
      // on the caller's vertex list unnecessary (measured: the old
      // join-based hop 1 + upstream vertices.distinct() put two extra
      // full-edge-list exchanges inside round 1 — at the 2M-doc bench
      // round 1 was 18.7 s of the ~24 s CC total at 32 cores).
      // Round 1's hop-1 aggregation feeds BOTH the round's union side and
      // the message join's build side. Left lazy, AQE does NOT reuse the
      // exchange between the two consumers (verified empirically: the
      // executed round-1 plan carries two identical
      // Exchange+HashAggregate stages over `sym`, ShuffleQueryStage 3 and
      // 5 — the full edge list is aggregated twice). An eager
      // localCheckpoint materializes it once — AQE-sized partitions, and
      // the preserved hashpartitioning(id) feeds the join without a
      // re-exchange; rounds 2+ need nothing: their `labels` is already a
      // checkpointed RDD, so its two consumers just re-scan cheap blocks.
      val base =
        if (iter == 0) {
          spark.sparkContext.setJobDescription("cc: round 1 hop-1 labels")
          prevChk = sym.select(col("dst").as("id"), col("src").as("component"))
            .union(labels)
            .groupBy("id").agg(min(col("component")).as("component"))
            .localCheckpoint(eager = true)
          prevChk
        } else labels
      val msgs = sym
        .join(base, sym("src") === base("id"))
        .select(sym("dst").as("id"), col("component"), lit(false).as("own"))
      spark.sparkContext.setJobDescription(s"cc: round ${iter + 1}")
      val t0 = System.nanoTime()
      // null-safe comparison: an id that appears only in `edges` (not in
      // `vertices`) has a null prev_component on its first appearance; a
      // plain =!= evaluates to null there and the change would go
      // uncounted — declaring convergence while labels still propagate.
      // The `_changed` column is part of the checkpointed schema, so the
      // projection (and the accumulator bump inside it) is guaranteed to
      // run for every row during materialization.
      val next = base.select(col("id"), col("component"), lit(true).as("own"))
        .union(msgs)
        .groupBy("id")
        .agg(min(col("component")).as("component"),
          min(when(col("own"), col("component"))).as("prev_component"))
        .withColumn("_changed",
          bumpChanged(!(col("component") <=> col("prev_component"))))
        .localCheckpoint(eager = true) // the round; check rides along free
      val t1 = System.nanoTime()
      val changed = changedAcc.value > 0
      freeCheckpoint(prevChk)
      prevChk = next
      labels = next.select(col("id"), col("component"))
      converged = !changed
      iter += 1
      if (verbose) println(f"[cc] iteration $iter changed=$changed (n=${changedAcc.value}) round=${(t1 - t0) / 1e9}%.2fs")
    }
    sym.unpersist()
    labels
  }

  /** Drops the blocks of a `localCheckpoint`ed frame. They belong to the
    * checkpointed RDD under its `LogicalRDD`, not to the `CacheManager`, so
    * `Dataset.unpersist` would leave them in place.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
}
