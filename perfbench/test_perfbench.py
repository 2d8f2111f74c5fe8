"""Self-tests of the benchmark: deterministic generators, planted URL
variants that really canonicalize to their index URL, metric names equal to
BENCHMARK.json, a tiny run of every workload (plain and traced), and a
refusal to run without the package.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _frames_equal(a, b) -> bool:
    return all(x.equals(y) for x, y in zip(a, b)) and len(a) == len(b)


def test_index_chain_is_deterministic_per_seed():
    args = (2_000, 2, 400, 200, 40)
    a, b, c = gen.index_chain(5, *args), gen.index_chain(5, *args), gen.index_chain(6, *args)
    for field in ("image_incs", "caption_incs", "image_expect", "caption_expect"):
        assert _frames_equal(getattr(a, field), getattr(b, field))
    assert a.seed_images.equals(b.seed_images) and a.seed_captions.equals(b.seed_captions)
    assert not a.seed_images.equals(c.seed_images)


def test_crawl_logs_are_deterministic_per_seed():
    a, b, c = gen.crawl_logs(5, 500), gen.crawl_logs(5, 500), gen.crawl_logs(6, 500)
    assert a.index_lines == b.index_lines and a.probe_lines == b.probe_lines
    assert a.expect.equals(b.expect)
    assert a.probe_lines != c.probe_lines


def test_batch_expectation_is_deterministic_per_seed():
    assert gen.batch_expectation(300, 5) == gen.batch_expectation(300, 5)
    assert gen.batch_expectation(300, 5) != gen.batch_expectation(300, 6)


def test_planted_url_variants_canonicalize_to_their_index_url():
    """Checked with the DuckDB rendering of the canonicalizer, not Spark."""
    duckdb = pytest.importorskip("duckdb")
    from deduplicator_spark.functions.urlcanon import canonicalize_sql

    cr = gen.crawl_logs(9, 2_000)
    dup = cr.expect[cr.expect["verdict"] == "duplicate"]
    con = duckdb.connect()
    con.register("p", dup[["url", "refers_to_uri"]])
    bad = con.execute(
        f"SELECT count(*) FROM p WHERE {canonicalize_sql('url')} "
        f"<> {canonicalize_sql('refers_to_uri')}").fetchone()[0]
    assert len(dup) > 500 and bad == 0
    # and distinct revisited URLs stay distinct after canonicalization
    con.register("q", cr.expect[["url"]])
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT {canonicalize_sql('url')}) FROM q").fetchone()
    assert n == d


def test_metric_names_match_benchmark_json():
    assert tuple(m["name"] for m in SPEC["end_to_end"]) == run.END_TO_END
    assert tuple(m["name"] for m in SPEC["per_layer"]) == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for name, (what, _) in run.SPAN_METRICS.items():
        if name in units:
            assert units[name] == run.UNITS[what]


def _run(cwd: str, workload: str, trace: int, scale: str = "tiny"):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1 + trace
    want = run.END_TO_END if not trace else run.PER_LAYER
    assert tuple(out["metrics"]) == want
    if not trace:
        assert out["metrics"]["recall"]["value"] == 1.0
    elif workload == "crawl_probe":
        # the exact str(Column) size of one canonicalize_url call
        assert out["metrics"]["urlcanon.expr_kb"]["value"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0, "full")
    assert p.returncode != 0 and p.stdout.strip() == ""
