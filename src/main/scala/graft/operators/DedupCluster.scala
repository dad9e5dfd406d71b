package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: candidate PAIRS from the Dedup family
  * say "a duplicates b"; deduplicating a corpus needs the transitive
  * closure — connected components — so each near-dup CLUSTER keeps
  * exactly one canonical document (a > b > c must not survive as both
  * "drop b" and "keep b").
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labelled with its own id; each round every node takes the min of its
  * label and its neighbors' labels; at fixpoint a component is labelled
  * with its minimum member id. One round = one hash join (edges ×
  * labels) + one min-aggregation — all key-equality shuffles, nothing
  * driver-side except the O(1) convergence probe (does any edge still
  * point at a smaller label?). Rounds needed =
  * component diameter: near-dup clusters are clique-ish (diameter 1-3),
  * so propagation beats the O(log n) star-contraction algorithms'
  * constant factor there; a pathological long-chain graph needs
  * `maxIter` raised (the run fails loudly rather than returning a
  * silently half-merged labelling). Lineage is truncated with an eager
  * localCheckpoint per round — without it the iterated plan re-executes
  * every prior round each action; on a cluster prefer
  * `sparkContext.setCheckpointDir` + `checkpoint()` for fault-tolerant
  * truncation.
  */
object DedupCluster {

  /** Connected components of the undirected graph given as an
    * (idA, idB) pair list. Returns one row per node that appears in a
    * pair: (id, component) with component = min node id reachable.
    * Isolated documents never enter the edge list, so absence from the
    * output means "no duplicate". */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    // No distinct() on the edge list: duplicate edges are absorbed by
    // the min aggregation (identical nbr-min, identical fixpoint), the
    // pair generators upstream already emit unique (a < b) pairs, and
    // the dedup shuffle was one more full exchange + job per call. A
    // caller with a heavily duplicated pair list can dedupe upstream.
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .localCheckpoint() // materialized once, re-joined every round
    // Round 1 fused into initialization: with every label starting at
    // its own id, the first propagation step is exactly
    // least(id, min neighbor id) — one aggregation over the edge list,
    // no edges×labels join, no convergence probe (a first round over
    // self-labels can never certify convergence: any edge between
    // distinct ids changes a label). Clique-ish near-dup components
    // (diameter 1) now converge with ONE joined round instead of two.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__nbr"))
      .select(col("src").as("id"),
        least(col("src"), col("__nbr")).as("comp"))
      .localCheckpoint()
    var round = 1
    var converged = false
    while (!converged && round < maxIter) {
      // Probe on the edge endpoints, not on the step: a round lowers a
      // label iff some edge has label(dst) < label(src) (every labelled
      // node is an edge src, and the edge list is symmetric). The probe
      // is two lookups per edge and an early-exit limit(1), with no
      // min-aggregation, so the terminal round — at sf0.1 every CC call
      // converges at its first joined round — never builds the step,
      // and a non-terminal round builds it once, for its checkpoint.
      converged = edges
        .join(labels.select(col("id").as("src"), col("comp").as("cs")), Seq("src"))
        .join(labels.select(col("id").as("dst"), col("comp").as("cd")), Seq("dst"))
        .filter(col("cd") < col("cs"))
        .limit(1).count() == 0
      if (!converged) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("nc")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("nc")).as("nbr"))
        labels = labels
          .join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"))
          .localCheckpoint()
        round += 1
      }
    }
    require(converged,
      s"connected components did not converge within $maxIter rounds — " +
        "the pair graph has a long-diameter component; raise maxIter")
    labels
  }

  /** Incremental connected components: fold a NEW batch of candidate
    * pairs (e.g. [[Dedup.incrementalMinhashPairs]] output) into a
    * persisted (id, comp) labelling WITHOUT re-clustering history.
    *
    * The iterative propagation runs only on a reduced graph: each new
    * edge endpoint is replaced by its existing component representative
    * (its `comp`, which is itself a member id) or by itself when
    * previously unlabelled — so the graph that iterates is O(batch
    * pairs) nodes regardless of corpus size. History is touched by
    * exactly one non-iterative remap join (old comp → merged comp);
    * labels whose component no new edge reached stream through
    * unchanged. Under arrival-ordered ids (batch ids > index ids — the
    * same contract the incremental dedup indexes document) min-label
    * semantics compose: an old representative is the min of its old
    * members, so the reduced graph's min is the global min and the
    * merged labelling equals [[connectedComponents]] over the full
    * pair history (spec-pinned).
    *
    * Returns the UPDATED full labelling — persist it back as the next
    * round's `labels`. */
  def mergeComponents(
      labels: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    // endpoints → existing representative (comp) where one exists
    // remapping endpoints to representatives can collapse many batch
    // pairs onto one representative edge (and onto self-loops when both
    // endpoints already share a component) — and connectedComponents
    // deliberately skips its own distinct(). Dedupe HERE, on the
    // batch-sized reduced list, so the iterated rounds never re-join
    // duplicated edges. Self-loops carry no merge information and every
    // self-loop endpoint is an already-labelled representative (fresh
    // ids can never equal an old representative under the documented
    // arrival-ordered-id contract), so dropping them loses no node.
    val reducedEdges = newPairs
      .select(col(idA).as("a"), col(idB).as("b"))
      .join(l.select(col("id").as("a"), col("comp").as("ra")), Seq("a"), "left")
      .join(l.select(col("id").as("b"), col("comp").as("rb")), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("id_a"),
        coalesce(col("rb"), col("b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // iterate ONLY over the reduced batch graph
    val reduced = connectedComponents(reducedEdges, "id_a", "id_b", maxIter)
    // previously-unlabelled endpoints (new docs, or old isolated docs a
    // new edge just reached) take their reduced label directly
    val freshLabels = reduced.join(l.select(col("id")), Seq("id"), "left_anti")
    // old labels: one remap join on comp — a reduced node that IS an old
    // representative may have merged into a smaller component
    val remap = reduced.select(col("id").as("comp"), col("comp").as("__merged"))
    val updated = l.join(remap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("__merged"), col("comp")).as("comp"))
    updated.unionByName(freshLabels.select(col("id"), col("comp")))
  }

  /** Keep one canonical document (the min id) per duplicate cluster:
    * non-canonical members leave via a left-anti join. Pass the same
    * pair list the Dedup family produced. */
  def dropDuplicates(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val losers = connectedComponents(pairs, idA, idB, maxIter)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster representative selection: instead of
    * [[dropDuplicates]]' keep-min-id policy, keep the member with the
    * HIGHEST `scoreCol` (ties to the lowest id — deterministic) in
    * each near-duplicate cluster. The curation policy behind it: when
    * ten crawls of a page near-duplicate each other, keep the longest
    * / cleanest / highest-quality capture, not the one that happened
    * to arrive first. Returns one row per cluster:
    * (comp, kept_id, best_score, n_members).
    *
    * 100 TB shape: the label table (id, comp) joins the
    * (id, score) projection — ids and one numeric only, text never
    * moves — and the per-cluster argmax is a single partial-aggregated
    * `max(struct(score, -id))` on the comp key: no window, no sort,
    * one shuffle carrying one candidate row per cluster per mapper. */
  def keepBest(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val labels = connectedComponents(pairs, idA, idB, maxIter)
    labels
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("__score").as("s"), (-col("id")).as("negid"))).as("__best"))
      .select(col("comp"),
        (-col("__best.negid")).as("kept_id"),
        col("__best.s").as("best_score"),
        col("n_members"))
  }

  /** Cluster-size histogram over a (id, comp) component labelling:
    * clusters per size + documents they absorb — the "how much of the
    * corpus is duplicated, and in what shape" dashboard (a fat head of
    * giant clusters flags a boilerplate flood; a long tail of pairs is
    * organic near-dups). Sizes are ≥ 2 by construction — singletons
    * never enter the pair graph. Two partial-agg'd shuffles over the
    * label table: ids only, nothing document-sized. */
  def clusterSizeHistogram(components: DataFrame): DataFrame =
    components
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
}
