"""G-Stream model state machine: the driver-side M-step (SURVEY Tier B).

A from-scratch numpy re-implementation of the reference's graph
maintenance (batchStreamModel.scala), keeping its exact semantics and
quirks — they shape the golden outputs:

* node ids are ``len(nodes)+1`` at creation and NOT positionally
  stable after deletions; the graph algebra indexes by position
  (batchStreamModel.scala:57,277).
* ``upGlobalErrors`` (batchStreamModel.scala:254-260) is not ported:
  its inverted guard makes it a no-op, except right after
  ``removeIsolatedNodes`` deleted two or more nodes below a winner,
  where it indexes past the end of ``errors`` and kills the batch.
* ``addNewNodes`` picks the neighbor f by searching the max neighbor
  error value in the GLOBAL error array (``errors.indexOf``), so an
  equal-valued non-neighbor earlier in the array wins the lookup
  (batchStreamModel.scala:272) — preserved.
* structural gates (fading: nbNodes>100 & kk%3==0; growth:
  nbNodes<=300 & kk%5==0) test the node count captured BEFORE the
  update rule ran (batchStreamModel.scala:73,93,100).
* edge ages grow exponentially: age = age*lambda + 1 per batch for
  edges incident to a winner (batchStreamModel.scala:154-160); weight
  decay applies to every node every batch (batchStreamModel.scala:146).
* the reference archives deleted nodes, with the ids of every point
  they ever won, in two tombstone stores (batchStreamModel.scala:239,318).
  Only the faded ones are an output (OutdatedProtos), so only they are
  kept, as (vector, node id); isolated nodes are dropped, and no point
  id is kept.  Driver state is O(nodes^2 + faded x dim), never O(points).
* the adjacency lives in ``ages`` alone: NaN means "no edge".  The
  reference's 0/1 ``edges`` matrix is derived from it, read-only.

The per-label update loop runs in ascending-label order (the reference
iterates in ``collect()`` order, which is partition-dependent; sorting
makes our runs reproducible).

State is plain numpy — the graph is <= ~300 nodes by construction, so
sharding it across a cluster would be pure overhead; the distributed
work is the E-step (estep.py).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .params import GStreamParams


@dataclass
class Prototype:
    """A faded node (reference `prototype`, pointObj.scala:22-26, without
    its point ids)."""

    vector: np.ndarray
    node_id: int


@dataclass
class PointStats:
    """Per-winner aggregate from the E-step (one reduce row, A9).

    bmu2_counts: histogram of runner-up nodes (by position) — the
    relational form of the reference's one-hot array sum.
    """

    bmu2_counts: dict[int, int]
    sum_d2: float
    sum_vec: np.ndarray
    count: int
    ids: set[int]


class GStreamModel:
    def __init__(self, params: GStreamParams | None = None):
        self.p = params or GStreamParams()
        self.nodes: np.ndarray = np.zeros((0, 0))  # (n, dim) centroid matrix
        self.node_ids: list[int] = []
        self.ages: np.ndarray = np.zeros((0, 0))  # edge ages, NaN = no edge
        self.errors: np.ndarray = np.zeros(0)
        self.weights: np.ndarray = np.zeros(0)
        self.outdated_nodes: list[Prototype] = []

    # --- B1: init2NodesObj (batchStreamModel.scala:35-43) -----------------
    def init_two_nodes(self, n1, n2) -> "GStreamModel":
        n1 = np.asarray(n1, dtype=np.float64)
        n2 = np.asarray(n2, dtype=np.float64)
        self.nodes = np.vstack([n1, n2])
        self.node_ids = [1, 2]  # nodes.length+1 at each append
        self.ages = np.array([[np.nan, 0.0], [0.0, np.nan]])
        self.errors = np.zeros(2)
        self.weights = np.ones(2)
        return self

    @property
    def n_nodes(self) -> int:
        return self.nodes.shape[0]

    @property
    def edges(self) -> np.ndarray:
        """The reference's 0/1 adjacency matrix, derived from ``ages``.
        Read-only: write an edge by setting its age."""
        edges = (~np.isnan(self.ages)).astype(np.int64)
        edges.flags.writeable = False
        return edges

    # --- B2: per-batch orchestrator (batchStreamModel.scala:61-107) -------
    def update(self, point_stats: dict[int, PointStats], kk: int) -> "GStreamModel":
        nb_nodes = self.n_nodes  # captured BEFORE the update (line 73)
        self.update_rule(point_stats)
        self.remove_old_edges()
        self.remove_isolated_nodes()
        if nb_nodes > self.p.fading_min_nodes and kk % 3 == 0:
            self.fading()
        self.remove_isolated_nodes()
        if nb_nodes <= self.p.growth_max_nodes and kk % 5 == 0:
            self.add_new_nodes()
        self.errors *= self.p.d
        return self

    # --- helpers ----------------------------------------------------------
    def _neighbors(self, i: int) -> np.ndarray:
        return np.flatnonzero(~np.isnan(self.ages[i]))

    # --- B3: updateRule (batchStreamModel.scala:142-208) ------------------
    def update_rule(self, point_stats: dict[int, PointStats]) -> None:
        # weight decay for every node, every batch (line 146)
        self.weights = self.p.decay_factor * self.weights

        for label in sorted(point_stats):
            st = point_stats[label]
            # exponential aging of edges incident to the winner (154-160)
            for nb in self._neighbors(label):
                self.ages[nb, label] = self.ages[nb, label] * self.p.lambda_age + 1.0
                self.ages[label, nb] = self.ages[nb, label]

            # weighted incremental mean (165-188)
            nominateur = self.weights[label] * self.nodes[label] + st.sum_vec
            denominateur = self.weights[label] + st.count
            if self.p.voisinage == 1:
                k = np.exp(-1.0 / self.p.temperature)  # kNeighbor (336-338)
                t_sum = np.zeros(self.nodes.shape[1])
                t_count = 0.0
                for nb in self._neighbors(label):
                    nb_st = point_stats.get(int(nb))
                    if nb_st is not None:
                        t_sum += k * nb_st.sum_vec
                        t_count += k * nb_st.count
                nominateur = nominateur + t_sum
                denominateur = denominateur + t_count
            self.nodes[label] = nominateur / max(denominateur, 1e-16)

            # weight += count AFTER the mean used the decayed weight (191)
            self.weights[label] += st.count

            # refresh/create the (winner, runner-up) edge (195-202);
            # Scala maxBy returns the first max -> lowest position wins ties
            items = sorted(st.bmu2_counts.items())
            idx_max = max(items, key=lambda kv: kv[1])[0]
            self.ages[label, idx_max] = 0.0
            self.ages[idx_max, label] = 0.0

            # accumulate error (205)
            self.errors[label] += st.sum_d2

    # --- B4: removeOldEdges (batchStreamModel.scala:211-225) --------------
    def remove_old_edges(self) -> None:
        with np.errstate(invalid="ignore"):
            too_old = self.ages > self.p.max_age  # NaN compares False
        self.ages[too_old] = np.nan

    # --- B5: removeIsolatedNodes (batchStreamModel.scala:228-251) ---------
    def remove_isolated_nodes(self) -> None:
        if self.ages.shape[0] != self.n_nodes or (
            self.n_nodes > 0 and self.ages.shape[0] != self.ages.shape[1]
        ):
            raise ValueError(
                "The size of nodes and edges must be equal, edges must be a square matrix"
            )
        for j in range(self.n_nodes - 1, -1, -1):
            if np.isnan(self.ages[j]).all():
                self._delete_node(j)

    # --- B7: fading (batchStreamModel.scala:309-327) ----------------------
    def fading(self) -> None:
        if self.n_nodes != len(self.weights):
            raise ValueError("The size of nodes and weights must be equal !")
        smallest = int(np.argmin(self.weights))  # first min, as minBy
        if self.weights[smallest] < self.p.min_weight:
            self.outdated_nodes.append(
                Prototype(self.nodes[smallest].copy(), self.node_ids[smallest])
            )
            self._delete_node(smallest)

    # --- B8: addNewNodes (batchStreamModel.scala:263-306) -----------------
    def add_new_nodes(self) -> None:
        for _ in range(self.p.nb_nodes_to_add):
            q = int(np.argmax(self.errors))  # first max, as errors.indexOf(max)
            q_neighbors = self._neighbors(q)
            if len(q_neighbors) == 0:
                # reference would throw on max of empty collection (line 272)
                raise ValueError("addNewNodes: node with max error has no neighbors")
            # QUIRK (line 272): the max error VALUE among q's neighbors is
            # looked up in the GLOBAL array -> first position holding that
            # value wins, neighbor or not.
            max_nb_err = self.errors[q_neighbors].max()
            f = int(np.flatnonzero(self.errors == max_nb_err)[0])

            mid = 0.5 * (self.nodes[q] + self.nodes[f])
            self._append_node(mid, len(self.node_ids) + 1)

            self.ages[q, f] = np.nan
            self.ages[f, q] = np.nan
            r = self.n_nodes - 1
            for x in (q, f):
                self.ages[x, r] = 0.0
                self.ages[r, x] = 0.0

            self.errors[q] *= self.p.alpha_err
            self.errors[f] *= self.p.alpha_err
            self.errors[-1] = self.errors[q] + self.errors[f]  # post-scaling

    # --- B9: matrix grow/shrink (batchStreamModel.scala:347-381) ----------
    def _append_node(self, vec: np.ndarray, node_id: int) -> None:
        self.nodes = np.vstack([self.nodes, vec])
        self.node_ids.append(node_id)
        n = self.n_nodes
        ages = np.full((n, n), np.nan)
        ages[: n - 1, : n - 1] = self.ages
        self.ages = ages
        self.weights = np.append(self.weights, 0.0)
        self.errors = np.append(self.errors, 0.0)

    def _delete_node(self, j: int) -> None:
        keep = [i for i in range(self.n_nodes) if i != j]
        self.nodes = self.nodes[keep]
        self.node_ids.pop(j)
        self.ages = self.ages[np.ix_(keep, keep)]
        self.weights = np.delete(self.weights, j)
        self.errors = np.delete(self.errors, j)

    # --- exports (pointObj.scala:27-46; batchStream.scala:97-101) ---------
    def edge_list(self) -> list[tuple[int, int]]:
        src, dst = np.nonzero(~np.isnan(self.ages))
        return [(int(s), int(d)) for s, d in zip(src, dst)]

    def snapshot_tables(self) -> dict[str, list[tuple]]:
        """Snapshot families per FIXTURES.md section 3."""
        return {
            "prototypes": [
                (self.node_ids[i], self.nodes[i].tolist()) for i in range(self.n_nodes)
            ],
            "edges": self.edge_list(),
            "weights": [
                (self.node_ids[i], float(self.weights[i])) for i in range(self.n_nodes)
            ],
            "outdated_protos": [
                (p.node_id, p.vector.tolist()) for p in self.outdated_nodes
            ],
        }
