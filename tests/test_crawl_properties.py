"""Engine vs sequential-oracle equivalence on adversarial graphs.

The distributed engine computes xidel's sequential DFS-with-enqueue-dedup
order as a rank fixpoint; these graphs exercise the corners where naive
formulations diverge from the true semantics:

- deep-shadow: a node reachable from a *deep* early subtree and a *shallow*
  late sibling must attach to the deep parent (visited first).
- prefix-parent: a parent and its own descendant both link to the node.
- cycles and self-loops (relaxation must not chase cyclic rank candidates).
"""

import pytest

from xidel_spark.crawl.crawler import FrontierCrawler
from xidel_spark.crawl.engine import crawl_exact, expand_nodedup
from xidel_spark.crawl.simulator import simulate_crawl

GRAPHS = {
    "deep_shadow": {"a": ["b", "c"], "b": ["d"], "d": ["e"], "c": ["e"]},
    "tef_shape": {"a": ["b", "c"], "b": ["c", "b1", "b2"], "c": ["c1", "c2"]},
    "prefix_parent": {"a": ["b", "x"], "b": ["c"], "c": ["x"]},
    "cycle": {"a": ["b"], "b": ["c"], "c": ["a", "d"]},
    "self_loop": {"a": ["a", "b"], "b": ["b"]},
    "diamond_wide": {
        "s": ["a", "b", "c"],
        "a": ["m"],
        "b": ["m", "n"],
        "c": ["n", "a"],
        "m": ["z"],
        "n": ["z"],
    },
    "multi_seed": {"a": ["c"], "b": ["c", "d"], "c": ["e"], "d": ["a"]},
}

SEEDS = {"multi_seed": ["b", "a"], "diamond_wide": ["s"]}


def links_df(spark, link_map):
    rows = [
        (src, i, dst)
        for src, dsts in link_map.items()
        for i, dst in enumerate(dsts)
    ]
    return spark.createDataFrame(rows, "src string, idx int, dst string")


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_exact_engine_matches_sequential_oracle(spark, name):
    lm = GRAPHS[name]
    seeds = SEEDS.get(name, ["a"])
    sim = simulate_crawl(lm, seeds, dedup=True)
    res = crawl_exact(spark, links_df(spark, lm), seeds)
    got = [r["url"] for r in res.visited.orderBy("ord").collect()]
    assert got == sim.visit_order, f"{name}: {got} != {sim.visit_order}"
    assert {r["url"] for r in res.seen.collect()} == sim.seen
    # depths must match the first-enqueuer depth, not BFS depth
    got_depths = {r["url"]: r["depth"] for r in res.visited.collect()}
    sim_depths = dict(zip(sim.visit_order, sim.visit_depths))
    assert got_depths == sim_depths


def bfs_depths(link_map, seeds):
    depth = dict.fromkeys(seeds, 0)
    level = list(depth)
    while level:
        nxt = []
        for u in level:
            for v in link_map.get(u, []):
                if v not in depth:
                    depth[v] = depth[u] + 1
                    nxt.append(v)
        level = nxt
    return depth


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_waves_seen_set_is_reachability(spark, name):
    lm = GRAPHS[name]
    seeds = SEEDS.get(name, ["a"])
    sim = simulate_crawl(lm, seeds, dedup=True)
    run = FrontierCrawler(spark, links_df(spark, lm)).run(seeds)
    assert {r["url"] for r in run.seen.collect()} == sim.seen
    # visited: each url once, at its BFS distance from the seed set
    visited = run.visited.collect()
    assert sorted(r["url"] for r in visited) == sorted(sim.seen)
    assert {r["url"]: r["depth"] for r in visited} == bfs_depths(lm, seeds)


@pytest.mark.parametrize("name", ["deep_shadow", "tef_shape", "multi_seed"])
@pytest.mark.parametrize("depth", [0, 1, 2, 3])
def test_nodedup_expansion_matches_oracle(spark, name, depth):
    lm = GRAPHS[name]
    seeds = SEEDS.get(name, ["a"])
    sim = simulate_crawl(lm, seeds, max_depth=depth, dedup=False)
    res = expand_nodedup(spark, links_df(spark, lm), seeds, max_depth=depth)
    got = [r["url"] for r in res.visited.orderBy("ord").collect()]
    assert got == sim.visit_order
    assert {r["url"] for r in res.seen.collect()} == sim.seen
