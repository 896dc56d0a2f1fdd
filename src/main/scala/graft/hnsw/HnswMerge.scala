package graft.hnsw

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKAggregate

import graft.functions.Distances
import graft.operators.Ivf

/** Cross-partition graph merge (SURVEY.md §7.4.1c): union the per-partition
  * sub-graphs into ONE navigable HNSW graph by adding cross-partition links
  * for a boundary set, then re-applying the degree caps relationally.
  *
  * Boundary set = every node with level ≥ 1 (the navigable backbone —
  * ~e^(−1/mL) of nodes) plus a deterministic sample of level-0 nodes. For
  * each boundary node we find its global top-m neighbours within the
  * boundary and link both directions on every layer both endpoints reach;
  * the union is then degree-pruned per (node, layer) keeping the closest
  * `cap` via the partial-aggregating top-k (shuffle O(nodes × cap)).
  *
  * Scale: the boundary kNN is IVF-blocked ([[Ivf.searchLarge]]) — centroids
  * are a deterministic id-sample of the boundary, both join sides shuffle
  * on the probed cell id, and nothing is broadcast but the centroids. So
  * the candidate volume is O(B · nprobe · cellSize), never B×B, and no
  * side has to fit in driver or broadcast memory.
  *
  * The merged artifact stays DISTRIBUTED at query time: the single logical
  * graph is re-sharded into `numShards` self-contained query shards (each
  * node homed at `id % numShards`; every merged edge duplicated to both
  * endpoints' shards; foreign endpoints carried as tombstoned GHOST copies
  * so search routes through them but only home nodes surface — the same
  * route-through-but-exclude mechanism tombstone deletes use). `annQuery`
  * ships shard p to task p mod numShards (the pid-exact exchange), so each
  * task rebuilds one shard (~n/numShards home nodes + its ghost fringe) —
  * the merged graph is never a single-task rebuild. Duplication cost is bounded: ≤ 2× edges,
  * and each node ghosts into at most min(degree, numShards−1) foreign
  * shards — the knob trades query parallelism against ghost-fringe
  * storage.
  */
object HnswMerge {

  /** Returns a merged-graph index re-sharded for distributed queries: one
    * logical graph, edges spanning the original build partitions, degree
    * caps respected, nodes+edges split into self-contained query shards.
    *
    * @param centroidMod IVF centroids = boundary nodes with id ≡ 0 (mod
    *                    this); falls back to the lowest-id boundary node if
    *                    the sample is empty.
    * @param nprobe      probed cells per boundary node for the candidate kNN
    * @param numShards   query shards of the merged graph (≤ 0 → keep the
    *                    input index's partition count)
    */
  def merge(index: HnswIndex, level0SampleMod: Int = 16,
            centroidMod: Int = 64, nprobe: Int = 4, numShards: Int = -1): HnswIndex = {
    val m = index.meta
    val dist = Distances.metric(m.metric)
    val nodes = index.nodes
    val levels = nodes.select(col("id"), col("level"))

    val boundary = nodes.filter(col("level") >= 1 || pmod(col("id"), lit(level0SampleMod.toLong)) === 0)
    val bQueries = boundary.select(col("id").as("qid"), col("vector"))

    // IVF-blocked boundary kNN: deterministic centroid sample, cell-id
    // equi-join, bounded-heap top-(m+1); drop self-matches
    val sampled = boundary.filter(pmod(col("id"), lit(centroidMod.toLong)) === 0)
      .select(col("id").as("cid"), col("vector").as("cvector"))
    val centroids =
      if (sampled.isEmpty)
        boundary.orderBy(col("id").asc).limit(1)
          .select(col("id").as("cid"), col("vector").as("cvector"))
      else sampled
    val assigned = Ivf.assign(boundary.select(col("id"), col("vector")), centroids, dist)
      .join(boundary.select(col("id"), col("vector")), "id")
    val probed = Ivf.searchLarge(assigned, bQueries, centroids, m.m + 1, nprobe, dist)
      .filter(col("id") =!= col("qid"))
      .select(col("qid").as("src"), col("id").as("dst"))
    // navigability floor: a boundary node alone in its probed cells gets no
    // candidates from the blocked kNN — fall back to a link with the global
    // entry point so every boundary node stays reachable cross-partition
    val lonely = bQueries.select(col("qid").as("src")).distinct()
      .except(probed.select(col("src")).distinct())
      .filter(col("src") =!= m.entry_point)
    val topm = probed.union(lonely.select(col("src"), lit(m.entry_point).as("dst")))

    // bidirectional, on every layer both endpoints populate. Single-pass
    // explode (r16): the previous `topm.union(topm.select(swap))` consumed
    // the IVF-kNN sub-DAG twice per downstream pass — a generator emits
    // both directions from one evaluation.
    val bidir = topm
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val crossEdges = bidir
      .join(levels.select(col("id").as("src"), col("level").as("l_src")), "src")
      .join(levels.select(col("id").as("dst"), col("level").as("l_dst")), "dst")
      .select(col("src"), explode(sequence(lit(0), least(col("l_src"), col("l_dst")))).as("layer"), col("dst"))

    val unioned = index.edges.select("src", "layer", "dst")
      .union(crossEdges.select("src", "layer", "dst"))

    // relational degree prune: keep the `cap` closest per (src, layer),
    // deterministic (dist asc, dst asc), partial-aggregated. The dedup
    // heap collapses duplicate dst ids on insert (r16): duplicate
    // (src, layer, dst) rows — union overlap, both-directions re-emits —
    // carry the SAME distance, so id-dedup keeps exactly the set the old
    // `unioned.distinct()` pass kept, without a full extra Exchange of
    // the edge table before the prune's own (guide §2.4: two operations
    // keyed the same way share one shuffle; here the dedup rides the
    // prune's aggregation buffer instead of its own).
    val scored = unioned
      .join(nodes.select(col("id").as("src"), col("vector").as("v_src")), "src")
      .join(nodes.select(col("id").as("dst"), col("vector").as("v_dst")), "dst")
      .select(col("src"), col("layer"), col("dst"), dist(col("v_src"), col("v_dst")).as("dist"))
    val pruned = scored
      .groupBy(col("src"), col("layer"))
      .agg(TopKAggregate.topKByDistDedup(col("dist"), col("dst"), m.max_m0).as("top"))
      .select(col("src"), col("layer"), posexplode(col("top")).as(Seq("pos", "entry")))
      .filter(col("layer") === 0 || col("pos") < m.m) // M above layer 0, max_m0 at layer 0
      .select(col("src"), col("layer"), col("entry.id").as("dst"))

    // ---- re-shard the single logical graph into query shards ----
    // Every merged edge lands in BOTH endpoints' shards, so a shard's
    // sub-graph keeps 2-hop routing through foreign nodes; foreign
    // endpoints ride along as tombstoned ghost copies (search navigates
    // through them, results surface only from a node's home shard — no
    // duplicate ids in the global top-k merge).
    val p = if (numShards > 0) numShards else math.max(1, index.meta.num_partitions)
    val shardOf = (c: Column) => pmod(c, lit(p.toLong)).cast("int")
    // single-pass shard fan-out (r16): each edge explodes to its 1–2 home
    // shards in one evaluation of `pruned` — the previous
    // bySrc ∪ byDst(filtered) union evaluated the whole prune aggregation
    // twice per consumer (only its Exchange was reused); the emitted
    // (pid, src, layer, dst) row set is identical.
    val shardEdges = pruned
      .select(explode(array_distinct(
        array(shardOf(col("src")), shardOf(col("dst"))))).as("pid"),
        col("src"), col("layer"), col("dst"))

    val homeNodes = nodes.withColumn("pid", shardOf(col("id")))
      .select("id", "vector", "level", "tombstone", "pid")
    // both endpoints from one pass over shardEdges (same rewrite as above)
    val ghostIds = shardEdges
      .select(col("pid"), explode(array(col("src"), col("dst"))).as("id"))
      .distinct()
      .join(homeNodes.select("pid", "id"), Seq("pid", "id"), "left_anti")
    val ghosts = ghostIds
      .join(nodes.select(col("id"), col("vector"), col("level")), "id")
      .select(col("id"), col("vector"), col("level"), lit(true).as("tombstone"), col("pid"))

    HnswIndex(
      homeNodes.union(ghosts),
      shardEdges,
      m.copy(num_partitions = p))
  }
}
