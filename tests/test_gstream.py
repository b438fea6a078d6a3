"""Micro-trace unit tests for the G-Stream M-step (SURVEY section 5.2).

Each Tier-B operator checked against hand-computed expectations,
including the reference quirks (exponential aging, gate boundaries,
global-indexOf neighbor pick), plus the bound on driver state.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pytest

from spark_streaming_clustering_spark.streaming.gstream_model import (
    GStreamModel,
    PointStats,
    Prototype,
)
from spark_streaming_clustering_spark.streaming.params import GStreamParams
from spark_streaming_clustering_spark.streaming.train import GStreamTrainer


def fresh_model(**over) -> GStreamModel:
    m = GStreamModel(GStreamParams(**over))
    return m.init_two_nodes([0.0, 0.0], [10.0, 10.0])


def stats(bmu2, sum_d2, sum_vec, count, ids) -> PointStats:
    return PointStats(dict(bmu2), sum_d2, np.asarray(sum_vec, float), count, set(ids))


def test_init_two_nodes():
    m = fresh_model()
    assert m.n_nodes == 2
    assert m.node_ids == [1, 2]
    np.testing.assert_array_equal(m.edges, [[0, 1], [1, 0]])
    assert np.isnan(m.ages[0, 0]) and np.isnan(m.ages[1, 1])
    assert m.ages[0, 1] == 0.0 and m.ages[1, 0] == 0.0
    np.testing.assert_array_equal(m.weights, [1.0, 1.0])
    np.testing.assert_array_equal(m.errors, [0.0, 0.0])


def test_update_rule_one_step_hand_computed():
    """3 points win node 0 (runner-up 1): verify decay, aging, centroid
    mean, weight, error and edge refresh against hand math."""
    m = fresh_model()
    st = {0: stats({1: 3}, sum_d2=14.0, sum_vec=[3.0, 6.0], count=3, ids=[7, 8, 9])}
    m.update_rule(st)

    # weights: decay 0.9 on both, then +3 on the winner
    np.testing.assert_allclose(m.weights, [0.9 * 1 + 3, 0.9])
    # aging then refresh: edge (0,1) aged to 0*1.2+1=1 then reset to 0 by
    # the (winner, runner-up) refresh
    assert m.ages[0, 1] == 0.0 and m.ages[1, 0] == 0.0
    assert m.edges[0, 1] == 1
    # centroid: (w*c + sum) / (w + n) with decayed w=0.9:
    # ([0,0]*0.9 + [3,6]) / (0.9+3) = [3/3.9, 6/3.9]
    np.testing.assert_allclose(m.nodes[0], [3 / 3.9, 6 / 3.9])
    np.testing.assert_allclose(m.nodes[1], [10.0, 10.0])
    np.testing.assert_allclose(m.errors, [14.0, 0.0])


def test_update_rule_aging_is_exponential():
    m = fresh_model(lambda_age=1.2)
    # make node 1 the winner with runner-up 0 twice; edge(0,1) ages as
    # age*1.2+1 but is refreshed to 0 each time by the bmu2 edge; to see
    # aging survive, add a third node connected to 1 that never wins.
    m._append_node(np.array([20.0, 20.0]), 3)
    m.ages[1, 2] = m.ages[2, 1] = 0.0
    st = {1: stats({0: 1}, 1.0, [10.0, 10.0], 1, [4])}
    m.update_rule(st)
    assert m.ages[1, 2] == 0.0 * 1.2 + 1.0
    m.update_rule(st)
    assert m.ages[1, 2] == (0.0 * 1.2 + 1.0) * 1.2 + 1.0  # = 2.2


def test_update_rule_bmu2_tie_breaks_low_index():
    m = fresh_model()
    m._append_node(np.array([20.0, 20.0]), 3)
    # ties in the runner-up histogram resolve to the lowest position
    # (Scala maxBy returns the first maximum)
    st = {0: stats({1: 2, 2: 2}, 1.0, [1.0, 1.0], 4, [5])}
    m.update_rule(st)
    assert m.edges[0, 1] == 1 and m.ages[0, 1] == 0.0


def test_voisinage_kernel_term():
    m = fresh_model(voisinage=1)
    k = np.exp(-1.0 / 0.3)
    st = {
        0: stats({1: 2}, 4.0, [2.0, 2.0], 2, [3]),
        1: stats({0: 1}, 1.0, [10.0, 10.0], 1, [4]),
    }
    m.update_rule(st)
    # node 0: (0.9*[0,0] + [2,2] + k*[10,10]) / (0.9 + 2 + k*1)
    expect = (np.array([2.0, 2.0]) + k * np.array([10.0, 10.0])) / (0.9 + 2 + k)
    np.testing.assert_allclose(m.nodes[0], expect)


def test_remove_old_edges_nan_safe():
    m = fresh_model(max_age=250)
    m.ages[0, 1] = m.ages[1, 0] = 251.0
    m.remove_old_edges()
    assert m.edges[0, 1] == 0 and np.isnan(m.ages[0, 1])
    # NaN entries stay NaN, no edge flips
    assert m.edges[0, 0] == 0


def test_remove_isolated_nodes_drops_all_nan_rows():
    m = fresh_model()
    m._append_node(np.array([5.0, 5.0]), 3)  # isolated: its ages row is all NaN
    m.remove_isolated_nodes()
    assert m.n_nodes == 2 and m.node_ids == [1, 2]
    assert not m.outdated_nodes  # isolated nodes are not archived
    # square invariant still holds
    assert m.edges.shape == (2, 2) and m.ages.shape == (2, 2)


def test_remove_isolated_nodes_invariant_check():
    m = fresh_model()
    m.ages = np.full((3, 2), np.nan)
    with pytest.raises(ValueError, match="square"):
        m.remove_isolated_nodes()


def test_update_survives_isolated_removals_below_the_winner():
    """The reference's upGlobalErrors (not ported) indexed errors(label)
    with the winner's pre-removal position: once removeIsolatedNodes
    deleted two nodes below it, that index ran past the end and the
    batch died with an IndexError."""
    m = fresh_model(max_age=250)
    m._append_node(np.array([20.0, 20.0]), 3)
    m._append_node(np.array([30.0, 30.0]), 4)
    m.ages[2, 3] = m.ages[3, 2] = 0.0
    m.ages[0, 1] = m.ages[1, 0] = 251.0  # over-age: 0 and 1 become isolated
    st = {3: stats({2: 1}, 2.0, [30.0, 30.0], 1, [5])}
    m.update(st, kk=1)
    assert m.node_ids == [3, 4]
    np.testing.assert_allclose(m.errors, [0.0, 2.0 * 0.99])
    assert m.ages[0, 1] == 0.0


def test_fading_removes_at_most_one():
    m = fresh_model(min_weight=1.0)
    m._append_node(np.array([5.0, 5.0]), 3)
    m.ages[0, 2] = m.ages[2, 0] = 0.0
    m.weights = np.array([0.2, 0.3, 2.0])
    m.fading()
    assert m.n_nodes == 2  # only the single smallest (node 0) faded
    assert len(m.outdated_nodes) == 1
    assert m.outdated_nodes[0].node_id == 1
    m2 = fresh_model(min_weight=0.01)
    m2.fading()  # min weight above threshold -> no-op
    assert m2.n_nodes == 2 and not m2.outdated_nodes


def test_add_new_nodes_midpoint_and_errors():
    m = fresh_model(nb_nodes_to_add=1, alpha_err=0.5)
    m.errors = np.array([8.0, 2.0])
    m.add_new_nodes()
    assert m.n_nodes == 3
    np.testing.assert_allclose(m.nodes[2], [5.0, 5.0])  # midpoint
    assert m.node_ids == [1, 2, 3]
    # original edge (q,f) removed, both wired to r with age 0
    assert m.edges[0, 1] == 0 and m.edges[0, 2] == 1 and m.edges[1, 2] == 1
    assert m.ages[0, 2] == 0.0 and np.isnan(m.ages[0, 1])
    # errors: q=8*0.5=4, f=2*0.5=1, new=4+1=5; weight 0 for the new node
    np.testing.assert_allclose(m.errors, [4.0, 1.0, 5.0])
    assert m.weights[2] == 0.0


def test_add_new_nodes_global_indexof_quirk():
    """f is looked up by VALUE in the global error array: an equal-valued
    non-neighbor at a lower position wins (batchStreamModel.scala:272)."""
    m = fresh_model(nb_nodes_to_add=1, alpha_err=0.5)
    m._append_node(np.array([20.0, 20.0]), 3)
    # wire: 0-1 (from init), 1-2; q=1 (max err), neighbors {0,2}
    m.ages[1, 2] = m.ages[2, 1] = 0.0
    # errors: node0=3.0, node1=9.0 (q), node2=3.0; max neighbor err value
    # = 3.0 -> indexOf finds position 0 first (here 0 IS a neighbor, so
    # set node0 NOT a neighbor by cutting 0-1 and wiring 0 elsewhere)
    m.ages[0, 1] = m.ages[1, 0] = np.nan
    m.ages[0, 2] = m.ages[2, 0] = 0.0  # keep 0 non-isolated
    m.errors = np.array([3.0, 9.0, 3.0])
    m.add_new_nodes()
    # q=1; neighbors of 1 = {2}; max neighbor err = 3.0; global indexOf
    # (first position with value 3.0) = 0, which is NOT a neighbor
    assert m.edges[1, 3] == 1 and m.edges[0, 3] == 1  # r wired to q=1 and f=0
    np.testing.assert_allclose(m.errors[:2], [1.5, 4.5])


def test_update_gates_use_pre_update_count():
    """fading gate: nbNodes>100 & kk%3==0; growth: nbNodes<=300 & kk%5==0,
    with nbNodes captured BEFORE the update (batchStreamModel.scala:73)."""
    m = fresh_model(nb_nodes_to_add=1)
    st = {0: stats({1: 1}, 1.0, [1.0, 1.0], 1, [3])}
    m.update(dict(st), kk=5)  # kk%5==0 and 2<=300 -> grows by 1
    assert m.n_nodes == 3
    m.update(dict(st), kk=7)  # no gate fires
    assert m.n_nodes == 3
    # error decay applied every update
    assert m.errors[0] != 0.0


def _ring_model(n: int, **param_overrides) -> GStreamModel:
    """n-node ring graph (every node has 2 neighbors, none isolated):
    deterministic scaffolding for the structural-gate boundary tests."""
    from spark_streaming_clustering_spark.streaming.params import GStreamParams

    m = GStreamModel(GStreamParams(**param_overrides))
    m.nodes = np.array([[float(i), float(i)] for i in range(n)])
    m.node_ids = list(range(1, n + 1))
    m.ages = np.full((n, n), np.nan)
    for i in range(n):
        j = (i + 1) % n
        m.ages[i, j] = m.ages[j, i] = 0.0
    m.weights = np.full(n, 5.0)
    m.errors = np.zeros(n)
    return m


def test_fading_gate_boundary_100_vs_101():
    """fading fires iff the PRE-update count exceeds 100
    (batchStreamModel.scala:93: nbNodes > 100 && kk % 3 == 0)."""
    # exactly 100 nodes: gate closed even at kk%3==0
    m = _ring_model(100)
    m.weights[50] = 0.5  # < min_weight, would fade if the gate opened
    m.update({}, kk=3)
    assert m.n_nodes == 100 and len(m.outdated_nodes) == 0

    # 101 nodes: gate open at kk%3==0
    m = _ring_model(101)
    m.weights[50] = 0.5
    m.update({}, kk=3)
    assert len(m.outdated_nodes) == 1 and m.outdated_nodes[0].node_id == 51
    assert m.n_nodes == 100

    # 101 nodes but kk%3!=0: schedule closed
    m = _ring_model(101)
    m.weights[50] = 0.5
    m.update({}, kk=4)
    assert m.n_nodes == 101 and len(m.outdated_nodes) == 0


def test_growth_gate_boundary_300_vs_301():
    """growth fires iff the PRE-update count is <= 300
    (batchStreamModel.scala:100) — and may overshoot the cap, since the
    gate checks before adding nbNodesToAdd nodes."""
    m = _ring_model(300)
    m.errors[7] = 9.0  # argmax target with ring neighbors
    m.update({}, kk=5)
    assert m.n_nodes == 303  # overshoots the cap: quirk preserved

    m = _ring_model(301)
    m.errors[7] = 9.0
    m.update({}, kk=5)
    assert m.n_nodes == 301  # 301 > 300: no growth

    # at 303, the next kk%3==0 window can fade (303 > 100)
    m = _ring_model(303)
    m.weights[0] = 0.25
    m.update({}, kk=6)
    assert m.n_nodes == 302 and len(m.outdated_nodes) == 1


def test_fading_gate_uses_count_captured_before_deletions():
    """The quirk the gates preserve: nbNodes is captured BEFORE
    update_rule/removals run (batchStreamModel.scala:73), so a batch
    that starts at 101 nodes still fades even if an isolated-node
    removal drops it to 100 first."""
    m = _ring_model(101, max_age=250)
    # node 100's ring edges are over-age -> remove_old_edges cuts both,
    # remove_isolated_nodes drops it -> 100 nodes before the gate
    m.ages[100, 0] = m.ages[0, 100] = 251.0
    m.ages[100, 99] = m.ages[99, 100] = 251.0
    m.weights[50] = 0.5
    m.update({}, kk=3)
    assert 101 not in m.node_ids
    # fading still fired although only 100 nodes remained at gate time
    assert len(m.outdated_nodes) == 1 and m.outdated_nodes[0].node_id == 51
    assert m.n_nodes == 99


def test_snapshot_tables_shapes():
    m = fresh_model()
    t = m.snapshot_tables()
    assert [r[0] for r in t["prototypes"]] == [1, 2]
    assert set(t["edges"]) == {(0, 1), (1, 0)}
    assert t["weights"][0] == (1, 1.0)
    assert t["outdated_protos"] == []


def test_driver_state_is_bounded_by_the_graph():
    """300 windows of points with never-seen ids: every piece of model
    state is sized by the node count (the graph is capped near 300
    nodes), except the faded-node output, which keeps only (vector,
    node_id) per node; no point id is retained anywhere."""
    rng = np.random.default_rng(7)
    tr = GStreamTrainer(None, GStreamParams(), nb_wind=300)
    pid = 0
    for kk in range(300):
        # four blobs drifting across the plane, so old nodes fade
        centers = np.array([[100.0, 100.0], [900.0, 100.0], [100.0, 900.0], [500.0, 500.0]])
        centers += kk * np.array([2.0, 2.0])
        x = centers[rng.integers(0, 4, 100)] + rng.uniform(-60.0, 60.0, (100, 2))
        batch = pd.DataFrame({"features": list(x), "id": np.arange(pid, pid + 100)})
        pid += 100
        if kk == 0:
            tr.init_from_seed(batch)
        tr.step(batch)
    m = tr.model
    n, dim = m.n_nodes, m.nodes.shape[1]
    assert m.outdated_nodes, "the drifting stream should fade nodes"
    for name, value in vars(m).items():
        if name in ("p", "outdated_nodes"):
            continue
        assert isinstance(value, (np.ndarray, list)) and len(value) == n, name
        if isinstance(value, np.ndarray):
            assert set(value.shape) <= {n, dim}, (name, value.shape)
        else:
            assert all(isinstance(v, int) for v in value), name  # one scalar per node
    assert [f.name for f in dataclasses.fields(Prototype)] == ["vector", "node_id"]
    assert all(p.vector.shape == (dim,) for p in m.outdated_nodes)
    with pytest.raises(ValueError, match="read-only"):
        m.edges[0, 1] = 0
