"""bench.py's HEADLINE list must cover the full query registry — a new
registry entry that forgets the bench line would silently drop out of
BENCH_r{N}.json coverage."""

import importlib.util
import os
import sys

import pytest

from web2llmstxt_spark.plans.queries import REGISTRY


def test_headline_covers_registry():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = sorted(set(REGISTRY) - set(bench.HEADLINE))
    extra = sorted(set(bench.HEADLINE) - set(REGISTRY))
    assert not missing, f"registry queries absent from bench HEADLINE: {missing}"
    assert not extra, f"bench HEADLINE names not in registry: {extra}"



def test_bench_extra_rejects_non_positive_reps(monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location(
        "bench_extra", os.path.join(os.path.dirname(__file__), "..", "bench_extra.py")
    )
    bench_extra = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_extra)
    monkeypatch.setattr(sys, "argv", ["bench_extra.py", "--reps", "0"])
    with pytest.raises(SystemExit) as exc:
        bench_extra.main()  # argparse exits before any Spark session starts
    assert exc.value.code == 2
    assert "--reps" in capsys.readouterr().err
