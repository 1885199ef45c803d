"""Self-tests of the benchmark harness (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from perfbench import batch_analytics, common, gen, live_sync, run

ROOT = run.ROOT


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_live_script_is_deterministic_for_a_seed():
    def first(seed, conn, n=200):
        return list(itertools.islice(gen.live_script(seed, conn), n))

    assert first(7, 0) == first(7, 0)
    assert first(7, 0) != first(8, 0)
    assert first(7, 0) != first(7, 1)


def test_think_times_are_deterministic_and_span_a_batch():
    def first(seed, conn, n=500):
        return list(itertools.islice(gen.think_times(seed, conn), n))

    assert first(7, 0) == first(7, 0)
    assert first(7, 0) != first(7, 1)
    xs = first(7, 0)
    assert 0.0 <= min(xs) < 0.1 * gen.LIVE_THINK_MAX_S
    assert 0.9 * gen.LIVE_THINK_MAX_S < max(xs) < gen.LIVE_THINK_MAX_S


def test_live_scripts_keep_games_disjoint_and_clock_increasing():
    games = []
    for conn in range(gen.LIVE_CONNECTIONS):
        polls = list(itertools.islice(gen.live_script(3, conn), 100))
        games.append({p[0] for p in polls})
        clock = [p[2] for p in polls]
        assert clock == sorted(set(clock))
    for a, b in itertools.combinations(games, 2):
        assert not a & b


def test_batch_tables_are_deterministic_for_a_seed():
    sizes = dict(n_events=500, n_users=20, n_docs=50, n_vecs=20)
    a = gen.batch_tables(5, **sizes)
    b = gen.batch_tables(5, **sizes)
    c = gen.batch_tables(6, **sizes)
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_result_digest_ignores_row_and_column_order():
    import pandas as pd

    x = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    y = pd.DataFrame({"b": ["y", "x"], "a": [2.0, 1.0]})
    assert batch_analytics.result_digest(x) == batch_analytics.result_digest(y)
    z = pd.DataFrame({"a": [1, 3], "b": ["x", "y"]})
    assert batch_analytics.result_digest(x) != batch_analytics.result_digest(z)


def test_result_digest_matches_across_engine_types():
    """Spark and DuckDB hand back the same values with different pandas
    types: nullable ints as floats, timestamps at other resolutions,
    lists as arrays."""
    import numpy as np
    import pandas as pd

    ts = pd.to_datetime(["2024-01-01 00:00:00.123456", "2024-01-02 00:00:00.000000"])
    spark_like = pd.DataFrame({
        "n": [1.0, np.nan], "t": ts.astype("datetime64[ns]"),
        "v": [np.array([1.0, 2.0]), None], "s": ["a", None],
    })
    duck_like = pd.DataFrame({
        "s": [None, "a"], "v": [None, [1, 2]],
        "t": ts[::-1].astype("datetime64[us]"), "n": pd.array([None, 1], dtype="Int64"),
    })
    assert batch_analytics.result_digest(spark_like) == batch_analytics.result_digest(duck_like)


def test_workload_metrics_match_benchmark_json():
    bench = _benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(common.END_TO_END)
    layer = {m["name"] for m in bench["per_layer"]}
    modules = (live_sync, batch_analytics)
    for m in modules:
        assert set(m.PER_LAYER) <= layer
    assert set().union(*(m.PER_LAYER for m in modules)) == layer


@pytest.mark.parametrize("module", (live_sync, batch_analytics))
@pytest.mark.parametrize("trace", (False, True))
def test_result_line_holds_every_metric_of_benchmark_json(module, trace):
    bench = _benchmark()
    section = bench["per_layer" if trace else "end_to_end"]
    mine = module.PER_LAYER if trace else common.END_TO_END
    res = {"correct": True, "attempted": 3, "failed": 0}
    line = run.result_line(bench, trace, module.PER_LAYER, {n: 1.5 for n in mine}, res)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        m["name"]: {"value": 1.5 if m["name"] in mine else 0.0, "unit": m["unit"]}
        for m in section
    }
    json.loads(json.dumps(line))
    with pytest.raises(KeyError):
        run.result_line(bench, trace, module.PER_LAYER, {"unknown": 1.0}, res)


def test_stdout_carries_only_the_result_line(tmp_path):
    """Whatever the JVM or its workers write to the inherited stdout
    (progress bars, log lines) must land on stderr."""
    script = tmp_path / "noisy.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import os, subprocess, sys
            sys.path.insert(0, {ROOT!r})
            from perfbench.run import protect_stdout
            out = protect_stdout()
            print("[Stage 1:=====>   (1 + 3) / 4]")
            os.write(1, b"raw fd write\\n")
            subprocess.run(["sh", "-c", "echo child process output"], check=True)
            out.write('{{"correct": true}}\\n')
            out.flush()
            """
        )
    )
    res = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=60
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.splitlines() == ['{"correct": true}']
    assert "child process output" in res.stderr


def test_fails_without_printing_when_the_engine_is_absent(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live_sync", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert res.returncode != 0
    assert res.stdout == ""


@pytest.mark.parametrize("name", sorted(batch_analytics.QUERIES))
def test_batch_queries_have_oracles(name):
    _, oracles = batch_analytics._registry()
    assert name in oracles
