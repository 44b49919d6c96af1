"""The driver bound (``plans.driver.DRIVER_ROWS``) only decides where
work runs, never the answer. Forced to 0, every Update delta folds into
a checkpoint and every seeded closure runs the distributed frontier
loop; forced to ∞, both stay on the driver. The pinned update-fuzz
seeds and the seeded closures of ``tests/test_paths.py`` must give the
same results both ways."""
import os
import sys

import pytest

from rdflib_jsonld_spark.operators.paths import (alt, eval_path_from, inv,
                                                 link, match_path, plus, seq,
                                                 star)
from rdflib_jsonld_spark.plans import driver
from rdflib_jsonld_spark.plans.driver import local_frame
from test_paths import CHAIN, EX, T, naive_eval, quads_df

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

N_SEEDS = int(os.environ.get("UPDATE_FUZZ_PINNED_N", "24"))
BOUNDS = {"zero": 0, "inf": 2 ** 31 - 2}


@pytest.mark.parametrize("bound", sorted(BOUNDS))
def test_update_fuzz_seeds_at_bound(spark, monkeypatch, bound):
    """Both ways every seed equals the naive store application, so the
    two ways are identical."""
    import update_fuzz as uf
    from collections import Counter

    monkeypatch.setattr(driver, "DRIVER_ROWS", BOUNDS[bound])
    stats = Counter()
    failures = [(seed, div[0], div[3]) for seed in range(N_SEEDS)
                if (div := uf.run_one(spark, seed, stats)) is not None]
    assert not failures, failures
    assert stats["ok"] > N_SEEDS // 2


CLOSURES = [
    plus(link(EX + "p")),
    star(link(EX + "p")),
    seq(link(EX + "p"), plus(link(EX + "p"))),
    inv(plus(link(EX + "p"))),
    star(alt(link(EX + "p"), inv(link(EX + "q")))),
    plus(alt(link(EX + "p"), link(EX + "q"))),
]


@pytest.mark.parametrize("path", CLOSURES, ids=lambda p: str(p)[:60])
def test_seeded_closures_agree_across_bound(spark, monkeypatch, path):
    df = quads_df(spark, CHAIN)
    got = {}
    for name, bound in BOUNDS.items():
        monkeypatch.setattr(driver, "DRIVER_ROWS", bound)
        for seed in (EX + "a", EX + "b", EX + "nowhere"):
            seeds = local_frame(spark, [(seed,)], "src string")
            got[name, seed] = {(r.src, r.dst) for r in
                               eval_path_from(df, path, seeds).collect()}
    for seed in (EX + "a", EX + "b", EX + "nowhere"):
        want = {(s, d) for s, d in naive_eval(CHAIN, path) if s == seed}
        if path[0] == "star":
            want |= {(seed, seed)}
        assert got["zero", seed] == got["inf", seed] == want, (path, seed)


def test_bound_switches_the_closure_engine(spark, monkeypatch):
    """Under the bound a seeded closure is a driver BFS returned as a
    ``LocalRelation``; over it, the frontier loop's checkpoint. Both
    reach the end of a 30-hop chain."""
    df = quads_df(spark, [T(f"e{i}", "p", f"e{i + 1}") for i in range(30)])
    want = {EX + f"e{i}" for i in range(1, 31)}
    seeds = local_frame(spark, [(EX + "e0",)], "src string")
    plans = {}
    for name, bound in BOUNDS.items():
        monkeypatch.setattr(driver, "DRIVER_ROWS", bound)
        out = eval_path_from(df, plus(link(EX + "p")), seeds)
        plan = out._jdf.queryExecution().analyzed().toString()
        plans[name] = ("LogicalRDD" in plan, "LocalRelation" in plan)
        assert {r.x for r in match_path(
            df, EX + "e0", plus(link(EX + "p")), "?x").collect()} == want
    assert plans == {"zero": (True, False), "inf": (False, True)}
